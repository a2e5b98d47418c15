"""URL fetch seam (the optional front of S5 RSS ingest and S8 audio
download).

The reference fetches inline with ``requests`` — feeds at
``/root/reference/src/lambda_2.py:168-171``, episode audio at
``src/lambda_3.py:84-88`` — one URL at a time inside a Lambda.  The
engine's staged pipelines start from already-fetched bytes (fetching
is an external-I/O concern, SURVEY §2); this module closes the gap
for users who want the whole path in one plan: ``fetch_urls`` is an
Arrow-batched ``mapInPandas`` stage that pulls each row's URL through
a pluggable TRANSPORT and appends the payload as a ``binary`` column.

Semantics:

- **Failures are rows, not exceptions**: a transport error lands as
  ``body = NULL`` + ``fetch_error`` holding ``Type: message`` —
  the same swallow-don't-crash posture as F4 date parsing and
  PERMISSIVE XML.  A crawl that dies on URL #7,391,204 of a 100 TB
  refresh is not a pipeline; downstream filters on
  ``fetch_error IS NULL`` and the error rows are the retry queue.
- **Transport is pluggable and must be picklable** (it ships to
  executors): the default ``urllib_transport`` covers ``http(s)://``
  AND ``file://`` via the stdlib — ``file://`` doubles as the
  deterministic local transport for tests and air-gapped runs, no
  fake needed.
- **Scale**: fetching is LATENCY-bound, not CPU-bound — repartition
  a URL list across executors before the call (a one-partition list
  would fetch serially no matter the cluster size).  Each partition
  holds one Python worker whose loop fetches sequentially;
  parallelism = partitions.  No driver-side fetching, no collect.

Composition points: ``pipeline.ingest.fetch_rss_docs`` (URLs → parsed
RSS structs, S5) and ``operators.multimodal.chunk_binary`` over the
``body`` column (S8/S9) — the golden-pipeline-from-URLs test drives
both to the same warehouse tables as the staged path.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

Transport = Callable[[str], bytes]


def urllib_transport(url: str, timeout: float = 30.0) -> bytes:
    """Default transport: stdlib urllib, supporting http(s):// and
    file:// (the deterministic local scheme tests use).  Raises on any
    transport failure — ``fetch_urls`` converts that to an error row."""
    from urllib.request import urlopen

    with urlopen(url, timeout=timeout) as resp:  # noqa: S310 (scheme chosen by caller)
        return resp.read()


def fetch_urls(
    df: DataFrame,
    url_col: str,
    transport: Transport | None = None,
    max_attempts: int = 1,
    timeout: float | None = None,
) -> DataFrame:
    """Fetch every row's ``url_col`` through ``transport``, appending
    ``body`` (binary payload, NULL on failure) and ``fetch_error``
    (NULL on success, ``Type: message`` on failure).  All input
    columns pass through unchanged.

    ``max_attempts`` > 1 retries a failing URL in place before
    emitting its error row (transient-fault absorption inside the
    task — a Spark TASK retry would refetch the whole partition);
    the recorded error is the LAST attempt's.  No sleep between
    attempts — back-off policy belongs in the transport, where the
    protocol (Retry-After, jitter) is known.

    ``timeout`` (seconds) bounds each attempt so one hung fetch cannot
    stall the whole partition; it is forwarded to the transport as a
    ``timeout=`` kwarg via ``functools.partial``, so a custom transport
    used with ``timeout`` must accept that kwarg (the default
    ``urllib_transport`` does).  Leave it ``None`` to call the
    transport as plain ``transport(url)`` — a transport needing a
    different fixed configuration can always be pre-bound by the
    caller the same way: ``functools.partial(my_transport, retries=3)``."""
    if max_attempts < 1:
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    transport = transport or urllib_transport
    if timeout is not None:
        transport = functools.partial(transport, timeout=timeout)
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("body", BinaryType()),
            StructField("fetch_error", StringType()),
        ]
    )

    def fetch_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bodies: list[bytes | None] = []
            errors: list[str | None] = []
            for url in pdf[url_col]:
                if url is None:
                    bodies.append(None)
                    errors.append("ValueError: url is null")
                    continue
                body, err = None, None
                for _ in range(max_attempts):
                    try:
                        body, err = bytes(transport(url)), None
                        break
                    except Exception as exc:  # noqa: BLE001 — error rows by contract
                        err = f"{type(exc).__name__}: {exc}"
                bodies.append(body)
                errors.append(err)
            out = pdf.copy()
            out["body"] = pd.Series(bodies, index=pdf.index, dtype=object)
            out["fetch_error"] = pd.Series(errors, index=pdf.index, dtype=object)
            yield out

    return df.mapInPandas(fetch_batches, schema)
