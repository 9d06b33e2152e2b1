"""S1 — HTTP JSON source (reference pipeline/extract.go:11-33).

The reference does a synchronous ``http.Get`` + ``json.Unmarshal`` of the
whole JSON:API envelope through one declared struct. This module owns
that step end to end: fetch, envelope decode, schema projection,
:class:`ExtractError`, and the registered ``http_json`` Spark source.

Projection follows Go's ``json.Unmarshal`` (reference
pipeline/extract.go:28 via model/model.go:8-30): unknown JSON keys are
dropped, missing keys are null, JSON numbers coerce to the declared
width, and a ``null`` data element is an all-null row. Error semantics
are preserved: non-2xx responses, malformed JSON (the ``NaN`` and
``Infinity`` tokens included), type conflicts and numbers out of the
declared range abort the run with :class:`ExtractError`
(main_test.go:72-108) — nothing is silently skipped.

Two faces share these semantics:

- **Driver** (``ingest_payload``): the paper's ``etl.run`` path. One API
  snapshot is driver-resident by construction (reference README reports
  373-522 vehicles). ``parse_payload`` decodes it with Arrow's C++ JSON
  reader under the envelope schema, straight into one ``pyarrow.Table``
  that ``createDataFrame`` hands to the JVM whole. A body Arrow refuses,
  or could decide differently, takes the ``json.loads`` decoder and
  projector below, so every body is accepted or aborted, and decoded,
  as that decoder alone would. A Python list would instead be
  parallelized as a pickled RDD and re-shipped through Python workers by
  every job that scans it.
- **Registered source** (``HttpJsonDataSource``)::

    spark.dataSource.register(HttpJsonDataSource)
    spark.read.format("http_json").option("urls", ...).load()        # batch
    spark.readStream.format("http_json").option("url", ...).load()   # poll

  Both readers project ``json.loads`` values with the compiled
  projector: a caller's schema may hold map types, which Arrow's JSON
  reader cannot build.
  *Batch* (``reader``): one :class:`InputPartition` per URL, fetched ON
  EXECUTORS — a backfill over N archived snapshot URLs is an
  N-way-parallel scan with no driver bottleneck.
  *Streaming* (``simpleStreamReader``): one HTTP poll per micro-batch —
  the "input rate and batch size is small" case the simple
  (driver-side, partition-free) reader variant is designed for. Two
  modes:

  - ``urls`` (comma-separated): DETERMINISTIC REPLAY — poll i serves
    urls[i], the offset is ``{"i": n}``, recovery re-fetches the same
    slice (``readBetweenOffsets``), and the stream runs dry when the
    list is exhausted. This is the oracle-checkable face (st11).
  - ``url``: LIVE POLLING — every micro-batch fetches the endpoint
    once, mirroring the reference's cron loop. Recovery of an
    un-committed live batch re-polls (the endpoint is a mutable
    snapshot; the reference poller has no recovery at all, so
    re-observing is strictly stronger).

Archived snapshots landed as JSON lines are a different input: read them
with the file-stream source ``streaming.ingest.stream_vehicle_snapshots``
(declared ``RAW_VEHICLE_SCHEMA``); the downstream transform is identical.
"""

from __future__ import annotations

import functools
import json
import math
import re
import time
from typing import Any, Callable, Iterator, Sequence, Tuple
from urllib.request import urlopen

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pa_json
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)

from mbta_etl_spark.pipeline.schema import RAW_VEHICLE_SCHEMA

_RAW_ARROW_SCHEMA = to_arrow_schema(RAW_VEHICLE_SCHEMA)
# the whole envelope as Arrow reads it: one row whose ``data`` list holds
# the raw items; other keys are skipped, and pretty-printed bodies parse
_ENVELOPE_PARSE = pa_json.ParseOptions(
    explicit_schema=pa.schema([("data", pa.list_(pa.struct(list(_RAW_ARROW_SCHEMA))))]),
    unexpected_field_behavior="ignore",
    newlines_in_values=True,
)


class ExtractError(RuntimeError):
    """Raised on HTTP, JSON-decode or projection failure (abort-the-run
    semantics, reference pipeline/extract.go:18-20,27-30)."""


def fetch_json(url: str, timeout: float = 30.0) -> str:
    """Driver-side HTTP GET. Fails on non-2xx like the reference
    (extract.go:18-20)."""
    try:
        with urlopen(url, timeout=timeout) as resp:
            # file:// responses carry status None — only HTTP(S) has a
            # status code to enforce (extract.go:18-20 semantics)
            status = getattr(resp, "status", None)
            if status is not None and (status < 200 or status >= 300):
                raise ExtractError(f"API returned status {status}")
            return resp.read().decode("utf-8")
    except ExtractError:
        raise
    except Exception as e:
        raise ExtractError(f"failed to fetch {url}: {e}") from e


def _reject_constant(token: str) -> None:
    raise ExtractError(f"failed to parse JSON: {token} is not a JSON number")


def _decode_envelope(body: str) -> list[Any]:
    """Decode the JSON:API envelope with ``json.loads`` and return its
    ``data`` items. Malformed JSON aborts, the ``NaN``/``Infinity``
    tokens included (Go's scanner rejects them), as does a missing or
    invalid ``data`` array (reference main_test.go:91-108)."""
    try:
        doc = json.loads(body, parse_constant=_reject_constant)
    except (ValueError, RecursionError) as e:
        # ValueError also covers an integer literal past Python's digit limit
        raise ExtractError(f"failed to parse JSON: {e}") from e
    data = doc.get("data") if isinstance(doc, dict) else None
    if not isinstance(data, list):
        raise ExtractError("JSON envelope missing 'data' array")
    return data


_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


def _typed(kinds: tuple, what: str, name: str, convert=None) -> Callable[[Any], Any]:
    """Projector for one JSON kind: null passes through, a value whose
    exact json.loads type is not in ``kinds`` aborts (so a JSON bool is
    never a number), and ``convert`` shapes the rest."""

    def project(v):
        if v is None:
            return None
        if type(v) not in kinds:
            got = type(v).__name__
            raise ExtractError(f"expected {what} for {name}, got {got}")
        return v if convert is None else convert(v)

    return project


def _replace_lone_surrogates(s: str) -> str:
    """json.loads keeps a lone surrogate escape (``"\\ud800"``) as a
    surrogate code point, which no UTF-8 encoder accepts; Go's decoder
    puts U+FFFD in its place. A valid pair is already one character."""
    if s.isascii():
        return s
    return s.encode("utf-16-le", "surrogatepass").decode("utf-16-le", "replace")


@functools.cache
def _projector(dtype: DataType) -> Callable[[Any], Any]:
    """Compile ``dtype`` once into a json.loads value -> schema-shaped
    value function, following json.Unmarshal: unknown object keys
    dropped, missing keys null, JSON numbers coerced to the declared
    width, and width overflow, a number past the double range and kind
    conflicts abort. One rule is this decoder's own and not Go's, which
    rejects it: an integral float (``180.0``, ``1e2``) fills an int."""
    name = dtype.simpleString()
    if isinstance(dtype, StructType):
        fields = [(f.name, _projector(f.dataType)) for f in dtype.fields]
        return _typed(
            (dict,), "JSON object", name, lambda v: tuple([p(v.get(k)) for k, p in fields])
        )
    if isinstance(dtype, ArrayType):
        elem = _projector(dtype.elementType)
        return _typed((list,), "JSON array", name, lambda v: [elem(x) for x in v])
    if isinstance(dtype, MapType):
        if not isinstance(dtype.keyType, StringType):
            # JSON object keys are always strings; a non-string keyType
            # can never be satisfied — abort loudly instead of handing
            # str-keyed dicts to the engine conversion boundary
            return _typed((), "string map keys", name)
        val = _projector(dtype.valueType)
        return _typed(
            (dict,), "JSON object", name, lambda v: {k: val(x) for k, x in v.items()}
        )
    if isinstance(dtype, StringType):
        return _typed((str,), "JSON string", name, _replace_lone_surrogates)
    if isinstance(dtype, BooleanType):
        return _typed((bool,), "JSON bool", name)
    if isinstance(dtype, (FloatType, DoubleType)):

        def finite(v):
            # strconv.ParseFloat's range error: 1E400 decodes to inf, and
            # an integer literal past the double range cannot convert
            try:
                f = float(v)
            except OverflowError:
                f = math.inf
            if not math.isfinite(f):
                raise ExtractError(f"number out of range for {name}")
            return f

        return _typed((float, int), "JSON number", name, finite)
    if type(dtype) not in _INT_BITS:
        return _typed((), "a type http_json supports", name)
    hi = 1 << (_INT_BITS[type(dtype)] - 1)

    def integral(v):
        if type(v) is float and not v.is_integer():
            raise ExtractError(f"non-integral {v!r} for {name}")
        if not -hi <= v < hi:
            raise ExtractError(f"{v!r} overflows {name}")
        return int(v)

    return _typed((int, float), "JSON number", name, integral)


def _project_rows(items: list[Any], schema: StructType) -> list[Tuple]:
    """Project decoded ``data[]`` items through ``schema``. A JSON null
    element becomes an all-null row — Go's json.Unmarshal gives a
    zero-value struct, no error (reference pipeline/extract.go:28)."""
    project = _projector(schema)
    null_row = (None,) * len(schema.fields)
    return [null_row if item is None else project(item) for item in items]


def _arrow_envelope(body: str) -> pa.Table | None:
    """The raw table decoded by Arrow's C++ JSON reader, or None where it
    refuses the body or could decide it differently from
    :func:`_decode_envelope`: the ``NaN``, ``Inf`` and ``Infinity``
    tokens and a BOM (Arrow accepts them), a document that is not one envelope with a
    ``data`` array (``{"data": null}``, a missing ``data``, two
    documents), and a non-finite double (an integer literal past the
    double range reads as inf). Arrow itself refuses integral floats in
    int columns, duplicate keys and ``1E400``."""
    try:
        raw = body.encode()
        if body.startswith("\ufeff") or _has_nonfinite_token(raw):
            return None
        doc = pa_json.read_json(
            pa.BufferReader(raw),
            read_options=pa_json.ReadOptions(use_threads=False, block_size=len(raw) + 1),
            parse_options=_ENVELOPE_PARSE,
        )
    except (pa.ArrowException, UnicodeEncodeError):
        return None
    data = doc.column("data")
    if doc.num_rows != 1 or data.null_count:
        return None
    items = data.combine_chunks().flatten()  # the data[] structs
    table = pa.Table.from_arrays(items.flatten(), schema=_RAW_ARROW_SCHEMA)
    return table if _finite(table.columns) else None


# "Na" and "In", the first two bytes of the NaN and Inf tokens, as words
_NA, _IN = np.frombuffer(b"NaIn", "<u2")


def _has_nonfinite_token(raw: bytes) -> bool:
    """Whether the UTF-8 ``raw`` holds ``NaN`` or ``Inf`` (``Infinity``
    included) anywhere. Most bodies hold neither token's first two
    bytes, which two vectorized passes over ``raw`` as 16-bit words (at
    even and at odd offsets) rule out; only a body that has them pays
    the exact substring scans."""
    if len(raw) < 3:
        return False
    for start in (0, 1):
        words = np.frombuffer(raw, "<u2", count=(len(raw) - start) // 2, offset=start)
        if ((words == _NA) | (words == _IN)).any():
            return b"NaN" in raw or b"Inf" in raw
    return False


def _finite(columns) -> bool:
    """No NaN or ±inf in any double leaf of ``columns`` (a struct's
    leaves carry its nulls, so a null row's slots are never checked)."""
    for c in columns:
        if pa.types.is_struct(c.type):
            if not _finite(c.flatten()):
                return False
        elif pa.types.is_floating(c.type):
            if not pc.all(pc.is_finite(c), min_count=0).as_py():
                return False
    return True


def parse_payload(body: str) -> pa.Table:
    """Raw JSON body → the ``data[]`` items as a ``RAW_VEHICLE_SCHEMA``
    Arrow table, one row per item.

    Arrow's C++ JSON reader decodes the body under the envelope schema
    in one block (:func:`_arrow_envelope`). A body it refuses, or could
    decide differently, goes through :func:`_decode_envelope` and the
    projector instead, which either builds the same table (one
    ``pa.array`` per top-level field) or raises :class:`ExtractError`.
    So every body is accepted or aborted, and decoded, as by the
    ``json.loads`` path alone; only the time differs."""
    table = _arrow_envelope(body)
    if table is not None:
        return table
    rows = _project_rows(_decode_envelope(body), RAW_VEHICLE_SCHEMA)
    columns = list(zip(*rows)) or [()] * len(_RAW_ARROW_SCHEMA)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, _RAW_ARROW_SCHEMA)],
        schema=_RAW_ARROW_SCHEMA,
    )


def ingest_payload(spark: SparkSession, body: str) -> DataFrame:
    """Raw JSON body → DataFrame with the declared nested schema.

    The decoded table (:func:`parse_payload`) goes to the JVM whole and
    is decoded there by ``createDataFrame(pyarrow.Table)``. The plan's
    scan is then a JVM relation, so neither the upsert nor any later job
    starts a Python worker to re-read the batch, as a pickled-list RDD
    would."""
    return spark.createDataFrame(parse_payload(body), RAW_VEHICLE_SCHEMA)


def _fetch_rows(url: str, schema: StructType, timeout: float) -> list[Tuple]:
    """One poll: GET + envelope parse + schema projection."""
    return _project_rows(_decode_envelope(fetch_json(url, timeout)), schema)


def _split_urls(raw: str) -> list[str]:
    return [u.strip() for u in raw.split(",") if u.strip()]


def _options(options: dict) -> tuple[list[str] | None, str | None, float]:
    """(replay ``urls`` list or None, live ``url``, ``timeout``)."""
    urls, url = options.get("urls"), options.get("url")
    if not (urls or url):
        raise ValueError("http_json requires option 'url' or 'urls'")
    replay = _split_urls(urls) if urls else None
    return replay, url, float(options.get("timeout", "30"))


class _HttpJsonBatchReader(DataSourceReader):
    """One partition per URL; each executor task performs its own GET —
    a backfill over an archive of snapshot URLs scales with the
    cluster, not the driver."""

    def __init__(self, schema: StructType, options: dict) -> None:
        replay, url, self._timeout = _options(options)
        self._urls = replay if replay is not None else _split_urls(url)
        self._schema = schema

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(u) for u in self._urls]

    def read(self, partition: InputPartition) -> Iterator[Tuple]:
        return iter(_fetch_rows(partition.value, self._schema, self._timeout))


class _HttpJsonPollReader(SimpleDataSourceStreamReader):
    """Driver-side poller: offset {"i": n} counts polls. Replay mode
    (urls list) is deterministic and runs dry; live mode (single url)
    polls the endpoint once per micro-batch forever."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        self._replay, self._live_url, self._timeout = _options(options)

    def initialOffset(self) -> dict:
        return {"i": 0}

    def _rows(self, lo: int, hi: int) -> list[Tuple]:
        # a live endpoint's snapshot at poll time is gone — recovery
        # re-polls once per missing batch (reference poller semantics:
        # the next observation stands in; it keeps no recovery log)
        if self._replay is None:
            urls = [self._live_url] * (hi - lo)
        else:
            urls = self._replay[lo:hi]
        return [r for u in urls for r in _fetch_rows(u, self._schema, self._timeout)]

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        i = int(start["i"])
        if self._replay is not None and i >= len(self._replay):
            return iter(()), start  # drained: availableNow stops
        return iter(self._rows(i, i + 1)), {"i": i + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        return iter(self._rows(int(start["i"]), int(end["i"])))

    def commit(self, end: dict) -> None:
        pass  # nothing retained outside the engine's offset log


class HttpJsonDataSource(DataSource):
    """``spark.read/readStream.format("http_json")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "http_json"

    def schema(self) -> StructType:
        return RAW_VEHICLE_SCHEMA

    def reader(self, schema: StructType) -> _HttpJsonBatchReader:
        return _HttpJsonBatchReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> _HttpJsonPollReader:
        return _HttpJsonPollReader(schema, self.options)


def register_http_json(spark) -> None:
    """Idempotent per-session registration of the source."""
    spark.dataSource.register(HttpJsonDataSource)


def drain_poll_replay(query, n_polls: int, timeout_s: float = 600.0) -> None:
    """Drain a REPLAY-mode http_json stream and stop it.

    Spark 4.1's PythonMicroBatchStream does not implement
    SupportsTriggerAvailableNow — ``.trigger(availableNow=True)`` falls
    back to a SINGLE batch (measured; the engine warns), which would
    consume one poll and stop. So a bounded replay runs under the
    default ASAP trigger (one micro-batch per poll, composition still
    deterministic: read() consumes exactly one URL) and the DRIVER
    watches the committed offset until it reaches ``n_polls``, then
    stops the query. The engine only reports a progress event for a
    COMPLETED batch, so when the watched endOffset shows ``n_polls``
    every poll's sink write has finished."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        exc = query.exception()
        if exc is not None:
            raise exc
        p = query.lastProgress
        end = p["sources"][0].get("endOffset") if p and p.get("sources") else None
        # the engine serializes the reader's {"i": n} offset dict; the
        # exact quoting varies (JSON vs repr), so extract the counter
        # by pattern instead of parsing a specific dialect
        m = re.search(r"[\"']?i[\"']?\s*:\s*(\d+)", str(end)) if end else None
        if m and int(m.group(1)) >= n_polls:
            query.stop()
            query.awaitTermination()
            return
        # 50 ms granularity: the loop never gates batch N -> N+1 (the
        # engine runs polls back-to-back under the ASAP trigger); the
        # sleep only delays DETECTING the final offset, so a finer tick
        # trims ~0.1 s of pure tail latency per replay at no CPU cost
        # worth caring about (r9 profile).
        time.sleep(0.05)
    query.stop()
    raise TimeoutError(
        f"http_json replay did not reach offset {n_polls} in {timeout_s}s"
    )
