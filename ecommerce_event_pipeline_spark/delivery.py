"""Report delivery side-channels: webhook POST with retries, LLM call
with local fallback.

The reference ships a Slack Incoming-Webhook client
(reference: scripts/slack_alert.py:47-73 `_post` — log-fallback when no
webhook URL is configured, single POST, 10 s timeout) and an LLM daily
report whose generation falls back to a deterministic local template on
any provider error (reference: scripts/llm_daily_report.py:511-538
`generate_report` → `_generate_fallback`; the DAG retries the task itself,
dags/event_pipeline_dag.py:113-121). This module re-expresses both with
the I/O boundary made injectable: callers (and tests) pass a ``transport``
callable, so the engine never opens a network connection on its own — the
default transport is constructed lazily and only when a URL is configured.

Prompt CONSTRUCTION stays in ``reports.py`` (`build_llm_prompt`); the
DAG builds its own webhook text payloads. This module only moves bytes.
"""

from __future__ import annotations

import json
import logging
import time
from dataclasses import dataclass, field
from typing import Any, Callable

logger = logging.getLogger(__name__)

#: transport(url, body_bytes, headers) -> (status_code, response_body)
Transport = Callable[[str, bytes, dict], tuple[int, str]]


def urllib_transport(url: str, body: bytes, headers: dict) -> tuple[int, str]:
    """Stdlib POST transport (reference: scripts/slack_alert.py:58-66).
    Only ever invoked when a caller configured a real URL."""
    from urllib.request import Request, urlopen

    req = Request(url, data=body, headers=headers)
    with urlopen(req, timeout=10) as resp:  # nosec - caller-supplied URL
        return resp.status, resp.read().decode("utf-8", "replace")


@dataclass
class WebhookClient:
    """POST a JSON payload with bounded exponential-backoff retries.

    Mirrors the reference Slack client's contract (log-and-return-False
    when unconfigured, reference: scripts/slack_alert.py:49-56) and adds
    the retry/backoff policy the reference keeps at the Airflow layer
    (reference: dags/event_pipeline_dag.py:113-116 retries=3,
    retry_delay=2 min, exponential backoff) so non-Airflow callers get
    the same durability.
    """

    url: str | None = None
    max_attempts: int = 3
    base_delay: float = 1.0  # doubles per attempt; test-injectable
    transport: Transport | None = None
    sleep: Callable[[float], None] = time.sleep
    attempts_made: int = field(default=0, init=False)

    @property
    def is_configured(self) -> bool:
        return bool(self.url)

    def post(self, payload: dict[str, Any]) -> bool:
        """Deliver ``payload``; True on HTTP 200. Unconfigured → log the
        payload and return False (the reference's log fallback)."""
        if not self.is_configured:
            logger.warning(
                "[WebhookClient] no URL configured — payload logged, not sent"
            )
            logger.info("[WebhookClient] payload: %s", json.dumps(payload))
            return False
        body = json.dumps(payload).encode("utf-8")
        headers = {"Content-Type": "application/json"}
        transport = self.transport or urllib_transport
        self.attempts_made = 0
        for attempt in range(self.max_attempts):
            self.attempts_made += 1
            try:
                status, _ = transport(self.url, body, headers)
                # any 2xx is a delivery ack (204 No Content is common for
                # webhook receivers) — retrying on it would double-send
                if 200 <= status < 300:
                    return True
                logger.error("[WebhookClient] HTTP %d (attempt %d)", status, attempt + 1)
            except Exception as exc:  # URLError and friends
                logger.error("[WebhookClient] %s (attempt %d)", exc, attempt + 1)
            if attempt + 1 < self.max_attempts:
                self.sleep(self.base_delay * (2**attempt))
        return False


def fallback_report(ds: str, kpis: dict[str, Any]) -> str:
    """Deterministic template report used when the LLM call fails —
    the reference's `_generate_fallback`
    (reference: scripts/llm_daily_report.py:194-210): headline numbers
    only, clearly marked as non-LLM output."""
    return (
        f"[auto-generated fallback — LLM unavailable]\n"
        f"Daily report {ds}: {kpis.get('total_events', 0)} events, "
        f"{kpis.get('unique_users', 0)} users, "
        f"{kpis.get('buyers', 0)} buyers, "
        f"revenue {kpis.get('revenue', 0.0):,.2f}."
    )


@dataclass
class LLMReporter:
    """Deliver the daily-report prompt to an LLM HTTP endpoint; fall back
    to the local template on any failure (reference:
    scripts/llm_daily_report.py:511-538). The endpoint/request shape is
    caller-defined via ``transport`` + ``url`` — the engine ships no
    provider bindings."""

    url: str | None = None
    transport: Transport | None = None
    max_attempts: int = 2
    sleep: Callable[[float], None] = time.sleep

    def generate(self, ds: str, prompt: str, kpis: dict[str, Any]) -> str:
        if not self.url:
            return fallback_report(ds, kpis)
        body = json.dumps({"prompt": prompt}).encode("utf-8")
        transport = self.transport or urllib_transport
        for attempt in range(self.max_attempts):
            try:
                status, text = transport(
                    self.url, body, {"Content-Type": "application/json"}
                )
                if 200 <= status < 300 and text.strip():
                    return text
                logger.error("[LLMReporter] HTTP %d (attempt %d)", status, attempt + 1)
            except Exception as exc:
                logger.error("[LLMReporter] %s (attempt %d)", exc, attempt + 1)
            if attempt + 1 < self.max_attempts:
                self.sleep(2.0 * (2**attempt))
        return fallback_report(ds, kpis)
