.PHONY: help test test-cov check-oracle bench pipeline plans ledger clean

help: ## list targets
	@grep -E '^[a-zA-Z_-]+:.*?## .*$$' $(MAKEFILE_LIST) | \
		awk 'BEGIN {FS = ":.*?## "}; {printf "  \033[36m%-14s\033[0m %s\n", $$1, $$2}'

test: ## run the Tier-1 suite (ROADMAP.md)
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

test-cov: ## tests with coverage
	python -m pytest tests/ -q --cov=ecommerce_event_pipeline_spark --cov-report=term-missing

check-oracle: ## full DuckDB-oracle sweep at sf0.01 (mirrors the external gate)
	python tools/check_oracle.py /root/testdata/sf0.01

bench: ## one-line JSON bench at sf0.1
	python bench.py

pipeline: ## run the daily pipeline for today into ./data
	python -m ecommerce_event_pipeline_spark.pipeline \
		--date $$(date +%Y-%m-%d) --output data --users 500

plans: ## regenerate PLANS.md (formatted physical plans)
	python tools/explain_audit.py

ledger: ## regenerate COVERAGE.md (query -> driver-grade ledger)
	python tools/make_ledger.py

clean: ## remove generated local data
	rm -rf data/ spark-warehouse/ derby.log metastore_db/
