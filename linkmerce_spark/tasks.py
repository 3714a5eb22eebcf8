"""Driver-side ingestion task combinators.

The reference's extraction layer composes retry loops, per-param
fan-out, pagination, and cursor-following around HTTP fetches
(reference: src/linkmerce/common/tasks.py — RequestLoop:84-241,
RequestEach:322-441, PaginateAll:528-631, CursorAll:735-793). These are
orchestration, not data-plane operators: they stay Python, produce row
batches, and hand off to ``frames.from_rows`` / the sinks.

Scale note: ``request_each`` offers a ``distribute=True`` path that
ships the param list through ``spark.sparkContext.parallelize`` and
fetches inside tasks — the Spark-era shape for thousands of pulls
(bounded per-executor concurrency instead of one driver event loop).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import ThreadPoolExecutor
from itertools import product
from typing import Any

__all__ = ["run_loop", "request_each", "paginate_all", "cursor_all", "expand_params", "distributed_fetch"]


def run_loop(
    fn: Callable[[], Any],
    until: Callable[[Any], bool] = lambda r: r is not None,
    max_retries: int = 3,
    backoff: str | float = "incremental",
    ignored: tuple[type[BaseException], ...] = (),
    raised: tuple[type[BaseException], ...] = (Exception,),
) -> Any:
    """Retry ``fn`` until ``until(result)`` or retries are exhausted.

    ``backoff='incremental'`` sleeps +1s per attempt (the reference's
    RunLoop policy, tasks.py:84-186); a float sleeps a fixed delay.
    Exceptions in ``ignored`` count as a failed attempt; those in
    ``raised`` propagate after the final attempt.
    """
    last_err: BaseException | None = None
    for attempt in range(max_retries + 1):
        try:
            result = fn()
            if until(result):
                return result
            last_err = None
        except ignored as e:
            last_err = e
        except raised as e:
            if attempt == max_retries:
                raise
            last_err = e
        if attempt < max_retries:
            time.sleep((attempt + 1.0) if backoff == "incremental" else float(backoff))
    if last_err is not None:
        raise last_err
    return None


def request_each(
    fn: Callable[..., Any],
    params: Sequence[dict[str, Any]],
    max_concurrent: int = 1,
    delay: float = 0.0,
    concat: bool = False,
    spark=None,
    distribute: bool = False,
    schema: str | Any = None,
) -> Any:
    """Run ``fn(**p)`` for each param dict (RequestEach, tasks.py:322-441).

    Sequential with ``delay`` between calls, thread-parallel with
    ``max_concurrent`` (the reference's semaphore bound), or — with
    ``distribute=True`` and a SparkSession — fanned out to executors.
    ``concat=True`` flattens list results into one row batch.

    With ``distribute=True`` AND a ``schema``, the fetched row dicts
    stay executor-side and come back as a lazy DataFrame via
    ``distributed_fetch`` — the data-plane path; nothing is collected
    to the driver.  WITHOUT a schema the distributed path collects the
    fetched payloads to the driver — that is a control-plane
    convenience for small pulls, not a 100 TB data path.
    """
    if distribute and spark is not None:
        if schema is not None:
            def _rows(p: dict[str, Any]) -> list[dict[str, Any]]:
                r = fn(**p)
                return r if isinstance(r, list) else [r]

            return distributed_fetch(spark, list(params), _rows, schema)
        sc = spark.sparkContext
        n = max(1, min(len(params), sc.defaultParallelism))
        # control-plane path: payloads return to the driver by design.
        results = sc.parallelize(list(params), n).map(lambda p: fn(**p)).collect()
    elif max_concurrent > 1:
        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            results = list(pool.map(lambda p: fn(**p), params))
    else:
        results = []
        for i, p in enumerate(params):
            if i and delay:
                time.sleep(delay)
            results.append(fn(**p))
    if concat:
        flat: list[Any] = []
        for r in results:
            flat.extend(r if isinstance(r, list) else [r])
        return flat
    return results


def expand_params(**axes: Iterable[Any]) -> list[dict[str, Any]]:
    """Cartesian-product param expansion (RequestEach.expand, tasks.py:406-424)."""
    keys = list(axes)
    return [dict(zip(keys, combo)) for combo in product(*(list(axes[k]) for k in keys))]


def paginate_all(
    fetch_page: Callable[[int], Any],
    counter: Callable[[Any], int],
    page_size: int,
    max_concurrent: int = 1,
) -> list[Any]:
    """Fetch page 1, derive the total from it, fan out remaining pages
    (PaginateAll, tasks.py:528-631)."""
    first = fetch_page(1)
    total = counter(first)
    n_pages = max(1, -(-total // page_size))
    rest = request_each(
        lambda page: fetch_page(page),
        [{"page": p} for p in range(2, n_pages + 1)],
        max_concurrent=max_concurrent,
    )
    return [first, *rest]


def cursor_all(
    fetch: Callable[[Any], Any],
    get_next_cursor: Callable[[Any], Any],
    start: Any = None,
    max_pages: int = 10_000,
) -> list[Any]:
    """Follow cursors until None (CursorAll, tasks.py:735-793) —
    inherently serial; bounded by ``max_pages`` as a runaway guard."""
    out: list[Any] = []
    cursor = start
    for _ in range(max_pages):
        result = fetch(cursor)
        out.append(result)
        cursor = get_next_cursor(result)
        if cursor is None:
            break
    return out


def distributed_fetch(
    spark,
    params: list[dict[str, Any]],
    fetch: Callable[[dict[str, Any]], list[dict[str, Any]]],
    schema: str | Any,
    parallelism: int | None = None,
):
    """Parallel pulls as a DataFrame pipeline: params -> mapInPandas(fetch).

    The Spark-era shape for thousands of requests (SURVEY §2.10): the
    param list becomes a DataFrame, each partition's params are fetched
    inside executor tasks (bounded concurrency = task slots), and the
    fetched row dicts come back as ordinary columns for the transform
    layer. ``fetch`` is cloudpickled to tasks (closures work; module
    globals must be importable on executors); ``schema`` is the OUTPUT
    row schema (DDL string or StructType).
    """
    import pandas as pd

    from linkmerce_spark.frames import from_rows
    from linkmerce_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    pdf = from_rows(spark, params)
    if parallelism:
        pdf = pdf.repartition(parallelism)

    def _kernel(batches):
        for batch in batches:
            rows: list[dict[str, Any]] = []
            for rec in batch.to_dict("records"):
                rows.extend(fetch(rec))
            yield pd.DataFrame(rows) if rows else pd.DataFrame()

    return pdf.mapInPandas(_kernel, schema=schema)
