"""Source resilience + dynamic DDL + failure-tolerant refresh
(SURVEY §2.1 S2/S10, §2.9 M6).

S2: the reference wraps API calls in tenacity retries (3 attempts,
exponential 2-10s backoff, hashtag_data_extractor.py:49-58). Engine-side,
Spark's task retries cover executor work; this helper covers *driver-side*
source/sink calls (flaky object stores, catalogs) without a tenacity
dependency.

S10: the reference builds CREATE TABLE from a Polars-dtype map
(hashtag_data_loader.py:94-136); Spark derives DDL from df.schema.

M6: per-view failure-tolerant refresh (gold_refresh.py:56-66: one broken
view must not block the other six); the views refresh concurrently, like
the reference's independent REFRESH MATERIALIZED VIEW statements.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor
from typing import Any, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def with_retry(fn: Callable[[], T], attempts: int = 3,
               base_delay: float = 2.0, max_delay: float = 10.0,
               retry_on: tuple[type[Exception], ...] = (Exception,),
               sleep: Callable[[float], None] = time.sleep) -> T:
    """S2: call `fn` with exponential backoff (2s, 4s, ... capped)."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except retry_on as exc:  # noqa: PERF203 - retry loop by design
            last = exc
            if attempt < attempts - 1:
                sleep(min(base_delay * (2 ** attempt), max_delay))
    raise last  # type: ignore[misc]


def schema_to_ddl(df: DataFrame, table: str,
                  if_not_exists: bool = True) -> str:
    """S10: dynamic CREATE TABLE from the frame's schema (the engine's
    version of the Polars-dtype->PG-type map)."""
    cols = ",\n  ".join(
        f"`{f.name}` {f.dataType.simpleString().upper()}"
        for f in df.schema.fields)
    clause = "IF NOT EXISTS " if if_not_exists else ""
    return f"CREATE TABLE {clause}{table} (\n  {cols}\n) USING parquet"


def run_concurrently(spark: SparkSession,
                     tasks: Mapping[str, Callable[[], T]]) -> dict[str, T]:
    """Run independent driver-side tasks at once, one thread per task, and
    return their results in `tasks` order. Each thread carries the
    caller's job group, description and tags, so the jobs it starts stay
    attributed to the caller. Every task runs to the end; then the first
    exception, in `tasks` order, is raised. The tasks share the session:
    they must not change its state (confs, checkpoint dir, temp views)."""
    if not tasks:
        return {}
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = {name: pool.submit(inheritable_thread_target(spark)(task))
                   for name, task in tasks.items()}
    return {name: fut.result() for name, fut in futures.items()}


def refresh_views(spark: SparkSession,
                  builders: Mapping[str, Callable[[], DataFrame]],
                  writer: Callable[[str, DataFrame], Any]) -> dict[str, Any]:
    """M6: refresh each materialized view independently; one failure never
    blocks the rest (gold_refresh.py tolerates partial failure). The views
    are built and written concurrently (`run_concurrently`), so builders
    must not change session state. Returns per-view status, timing and
    the writer's result (`rows`), in `builders` order, like the
    reference's refresh report."""
    def refresh(name: str, build: Callable[[], DataFrame]) -> dict[str, Any]:
        t0 = time.perf_counter()
        try:
            rows = writer(name, build())
        except Exception as exc:  # noqa: BLE001 - tolerance by contract
            return {"ok": False, "error": str(exc)[:200]}
        return {"ok": True, "sec": round(time.perf_counter() - t0, 2),
                "rows": rows}

    return run_concurrently(
        spark, {name: (lambda n=name, b=build: refresh(n, b))
                for name, build in builders.items()})
