"""Parse stage: extracted frames → decoded long / wide telemetry tables.

Covers P2-P12, A1, A2, P17 from SURVEY.md §2 in pure native expressions —
the reference's per-row ctypes loop (``lib/canparser.py:74-187``) becomes
schema-driven codegen: every topic's decode is a generated ``Column`` over
the hex payload, so the whole stage runs inside whole-stage codegen with no
Python on the data path.

Two output shapes:

* :func:`decode_long` — one row per decoded signal (the reference's
  intermediate "tall" table built at ``lib/canparser.py:106-111,159-169``).
* :func:`decode_wide` — the wide table of ``lib/canparser.py:222-239``
  (groupby-mean + unstack: one row per matched timestamp, same-µs
  duplicate frames averaged per signal). It has two forms: the per-frame
  projection :func:`decode_wide_project` for batch frames, and the
  shuffle form :func:`_decode_wide_shuffle` (one ``groupBy(timestamp)``
  of per-frame entry lists) for streams and for batch corpora with more
  than ``_PROJECT_DUP_MAX`` duplicate timestamps.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solarboat_data_pipeline_spark.catalog import SEPARATOR, CanCatalog

SIGNAL_STRUCT = T.StructType(
    [
        T.StructField("module_name", T.StringType()),
        T.StructField("topic_name", T.StringType()),
        T.StructField("byte_name", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("unit", T.StringType()),
    ]
)


def with_timestamp(frames: DataFrame, offset_seconds: float = 0.0) -> DataFrame:
    """P2+P3: epoch string → µs TimestampType, plus per-dataset clock-skew
    offset (reference ``lib/canparser.py:62-66,201-205``)."""
    ts = F.timestamp_seconds(F.col("ts_raw").cast("double"))
    if offset_seconds:
        ts = F.timestamp_add("MICROSECOND", F.lit(int(round(offset_seconds * 1e6))), ts)
    return frames.withColumn("timestamp", ts)


def crop_to_bounds(frames: DataFrame) -> DataFrame:
    """P4: keep rows between the first and last timestamp *in file order*
    (``lib/canparser.py:207-212`` — first/last are trusted, intermediates
    may be corrupt). Implemented as a broadcast of the 1-row bounds so the
    plan stays lazy and scales: one cheap agg pass + a map-side filter.
    The order key includes the (file, block-offset) metadata keys from
    ``extract_frames`` — required once the corpus spans multiple splits,
    where bare ``monotonically_increasing_id`` is not file-ordered."""
    from solarboat_data_pipeline_spark.sources.candump import ORDER_COLS

    order = F.struct(*[c for c in ORDER_COLS if c in frames.columns])
    bounds = frames.agg(
        F.min_by("timestamp", order).alias("_first_ts"),
        F.max_by("timestamp", order).alias("_last_ts"),
    )
    return (
        frames.crossJoin(F.broadcast(bounds))
        .where(F.col("timestamp").between(F.col("_first_ts"), F.col("_last_ts")))
        .drop("_first_ts", "_last_ts")
    )


def with_frame_meta(frames: DataFrame, mab20_workaround: bool = False) -> DataFrame:
    """P5-P7 + P9: topic id (hex→int), signature (first payload byte),
    payload byte length; optional MAB20 rewrite (``lib/canparser.py:126-133``:
    topics 64/65 force signature 230, topic 65 truncates to 2 bytes)."""
    df = frames.withColumns(
        {
            "topic_id": F.conv("topic_hex", 16, 10).cast("int"),
            "signature": F.conv(F.substring("payload_hex", 1, 2), 16, 10).cast("int"),
        }
    )
    if mab20_workaround:
        df = df.withColumns(
            {
                "signature": F.when(
                    F.col("topic_id").isin(64, 65), F.lit(230)
                ).otherwise(F.col("signature")),
                "payload_hex": F.when(
                    F.col("topic_id") == 65, F.substring("payload_hex", 1, 4)
                ).otherwise(F.col("payload_hex")),
            }
        )
    return df.withColumn("payload_len", (F.length("payload_hex") / 2).cast("int"))


def decode_long(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """P8+P10-P12: schema lookup + binary decode + 1→N explode.

    Decodes via the index-keyed spec map (:func:`decode_indexed` — O(1)
    codegen size in catalog width; frames matching no (signature, topic,
    valid-length) key are silently dropped, the reference's semantics at
    ``lib/canparser.py:135-157``), then attaches the signal's name
    strings + unit from a constant-folded metadata array indexed by the
    signal's wide-column position."""
    meta = []
    for mod, top in catalog.iter_topics():
        for s in top.signals:
            meta.append(
                F.struct(
                    F.lit(mod.name).alias("module_name"),
                    F.lit(top.name).alias("topic_name"),
                    F.lit(s.name).alias("byte_name"),
                    F.lit(s.unit).alias("unit"),
                )
            )
    if not meta:
        raise ValueError("empty catalog")
    named = F.get(F.array(*meta), F.col("idx"))
    return decode_indexed(frames, catalog).select(
        "timestamp",
        named["module_name"].alias("module_name"),
        named["topic_name"].alias("topic_name"),
        named["byte_name"].alias("byte_name"),
        "value",
        named["unit"].alias("unit"),
    )


# above this many wide columns, pivot_wide(strategy="auto") runs as ONE
# collect_list-to-map aggregate + per-column map extraction instead of
# n_cols aggregate functions: measured on 2M lines × 280 columns,
# agg-pivot 53k lines/s vs map-pivot 90k
WIDE_PIVOT_MAX_AGG_COLS = 32


def decode_indexed(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """P8+P10-P12, index-keyed and catalog-size-independent: each signal
    row is ``(timestamp, idx, value)`` where ``idx`` is the signal's
    position in ``catalog.wide_columns()`` order — the internal shape
    behind :func:`decode_long`.

    The catalog is a CONSTANT-FOLDED literal ``map<key, struct<size,
    fields>>`` looked up per frame, and the field decode is one small
    GENERIC expression over ``(byte_offset, bit_offset, width, scale)``
    applied after the explode. Codegen size is O(1) in catalog width, so
    the decode stays inside whole-stage codegen (under Janino's 64 KB
    method limit) for the reference's 233-signal schema and beyond."""
    matched = _matched_frames(frames, catalog)
    s = matched.select(
        "timestamp",
        "__w",
        F.explode("_spec.fields").alias("f"),
    )
    return s.select(
        "timestamp",
        F.col("f.idx").alias("idx"),
        _decode_field(F.col("__w"), F.col("f")).alias("value"),
    )


def _matched_frames(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """Frames that match a catalog topic (key + size guard), with the
    topic's field-spec struct attached as ``_spec``. The catalog is a
    constant-folded literal map, so the lookup is a per-row map probe.
    Reference parity: the (signature, topic) dispatch + payload-size
    guard of ``lib/canparser.py:81-90,135-157`` (unknown frames and
    wrong-length payloads silently dropped)."""
    idx_of = {c: i for i, c in enumerate(catalog.wide_columns())}
    entries = []
    for mod, top in catalog.iter_topics():
        key = mod.signature * 4096 + top.topic_id
        fields = [
            F.struct(
                F.lit(
                    idx_of[SEPARATOR.join([mod.name, top.name, s.name])]
                ).alias("idx"),
                F.lit(s.byte_offset).alias("off"),
                F.lit(s.bit_offset).alias("bit"),
                F.lit(s.bit_width).alias("width"),
                F.lit(s.scale).alias("scale"),
            )
            for s in top.signals
        ]
        entries += [
            F.lit(key),
            F.struct(
                F.lit(top.size).alias("size"), F.array(*fields).alias("fields")
            ),
        ]
    if not entries:
        raise ValueError("empty catalog")
    spec = F.element_at(
        F.create_map(*entries),
        (F.col("signature") * 4096 + F.col("topic_id")).cast("int"),
    )
    # the hex payload is parsed ONCE per frame into big-endian-text
    # 4-byte words (zero right-padding is harmless: the size guard keeps
    # every field inside the real payload) — the per-field decode is then
    # pure long arithmetic instead of two string F.conv parses per signal
    # row (same-session A/B at 6 M lines / 187 columns: best pass
    # 7.4 → 6.3 s, medians within noise — the explode + pivot shuffle
    # dominate this stage; the word form also keeps the explode payload
    # fixed-width). The word count comes from the catalog's LARGEST
    # topic, so payloads beyond classic CAN's 8 bytes (CAN FD, synthetic
    # frames) decode at any offset the catalog can declare — the packed
    # layout guarantees every field ends at or before the topic size.
    n_words = max(2, -(-max(t.size for _, t in catalog.iter_topics()) // 4))
    ph = F.rpad(F.col("payload_hex"), 8 * n_words, "0")
    words = F.array(
        *[
            F.conv(ph.substr(8 * w + 1, 8), 16, 10).cast("long")
            for w in range(n_words)
        ]
    )
    return frames.select(
        "timestamp",
        words.alias("__w"),
        spec.alias("_spec"),
    ).where(F.col("_spec").isNotNull() & (F.col("payload_len") == F.col("_spec.size")))


def _byte_at(words: Column, off: Column) -> Column:
    """Payload byte ``off`` (0-based) out of the pre-parsed 4-byte word
    array. shiftright() only takes a literal shift count, so the
    within-word position dispatches through a 4-arm literal-shift CASE —
    still one codegen expression, no string work."""
    w = F.element_at(words, (off / 4).cast("int") + 1)
    p = off % 4
    return (
        F.when(p == 0, F.shiftright(w, 24))
        .when(p == 1, F.shiftright(w, 16))
        .when(p == 2, F.shiftright(w, 8))
        .otherwise(w)
    ).bitwiseAND(255)


def _decode_field(words: Column, f: Column) -> Column:
    """Generic field decode over the pre-parsed payload words given one
    field-spec struct ``(idx, off, bit, width, scale)`` — small fixed
    codegen. Semantics of the reference's ctypes
    ``LittleEndianStructure`` access
    (``lib/canparser_generator.py:29-54``): LE u16 fuse, LSB-run
    bitfields, unit scaling folded into ``scale``."""
    lo = _byte_at(words, f["off"])
    raw = (
        F.when(f["width"] == 16, lo + _byte_at(words, f["off"] + 1) * 256)
        .when(f["width"] == 8, lo)
        # bitfield: the shift count is a per-field COLUMN, so divide by
        # the power-of-two literal instead (exact for byte-range values)
        .otherwise(
            F.floor(
                lo
                / F.element_at(
                    F.array(*[F.lit(1 << b) for b in range(8)]),
                    f["bit"].cast("int") + 1,
                )
            )
            .cast("long")
            .bitwiseAND(1)
        )
    )
    return raw.cast("double") * f["scale"]


def _byte_at_static_sql(words_col: str, off: int) -> str:
    """Payload byte ``off`` (a LITERAL offset) as SQL text: the word
    index and within-word shift resolve at plan time, so the byte read is
    one ``element_at`` + literal shift + mask instead of the 4-arm CASE
    of :func:`_byte_at`."""
    w = f"element_at({words_col}, {off // 4 + 1})"
    shift = (3 - off % 4) * 8
    inner = f"shiftright({w}, {shift})" if shift else w
    return f"({inner} & 255)"


def _decode_field_static_sql(
    words_col: str, off: int, bit: int, width: int, scale: float
) -> str:
    """:func:`_decode_field` with LITERAL field geometry, as SQL text:
    the width/offset dispatch happens in Python at plan time, emitting
    just the 2-3 arithmetic ops the field needs. Why text: a 187-column
    catalog's projection built through the Column API costs ~2,000 py4j
    round trips ≈ 8-10 s of driver time PER plan build (measured on the
    6 M-line bench row — more than the executed scan itself); the same
    tree parsed from one string per column is ~20× cheaper to build and
    resolves to the identical expressions, so decoded values are
    bit-identical. ``{scale!r}D`` is the shortest-roundtrip decimal of
    the Python double with Spark's DOUBLE-literal suffix — both parse
    via round-to-nearest, so the literal is the exact same double."""
    lo = _byte_at_static_sql(words_col, off)
    if width == 16:
        raw = f"({lo} + {_byte_at_static_sql(words_col, off + 1)} * 256)"
    elif width == 8:
        raw = lo
    else:  # LSB-run bitfield: lo >= 0, so shiftright == floor-div by 2^bit
        raw = f"(shiftright({lo}, {bit}) & 1)"
    return f"CAST({raw} AS DOUBLE) * {scale!r}D"


# driver-side cap on duplicate timestamps the projection form folds into
# scan-filter literals (same plan-cost ceiling rationale as
# similarity._ISIN_PUSHDOWN_MAX - a Catalyst literal list past ~10k
# nodes costs more than it saves); a corpus denser in same-us
# collisions than this takes the shuffle form
_PROJECT_DUP_MAX = 10_000


class ProjectDuplicateOverflow(ValueError):
    """A corpus has more than ``_PROJECT_DUP_MAX`` duplicate timestamps,
    so :func:`decode_wide_project` cannot fold the duplicate set into
    scan-filter literals. :func:`decode_wide` catches it and takes the
    shuffle form; a direct ``decode_wide_project`` call raises it."""


def decode_wide_project(
    frames: DataFrame,
    catalog: CanCatalog,
    downcast: bool = True,
    dup_ts: list | None = None,
) -> DataFrame:
    """A2 wide decode of BATCH frames as a per-frame projection.

    Each matched frame decodes directly to its wide row: one statically
    specialized expression per wide column (:func:`_decode_field_static_sql`),
    no explode and no wide shuffle. A1 same-µs merging runs only on the
    duplicate timestamps: their rows are averaged per column by a small
    aggregate and unioned with the projected unique-timestamp rows.

    Eager jobs: with ``dup_ts=None`` construction runs one thin
    ``groupBy(timestamp)`` count (column-pruned to the timestamp) and
    collects at most ``_PROJECT_DUP_MAX + 1`` duplicate timestamps;
    more than ``_PROJECT_DUP_MAX`` raises :class:`ProjectDuplicateOverflow`.
    A caller that already knows the duplicate timestamps passes them as
    ``dup_ts`` (``[]`` for none) and construction runs no job.

    Reference parity: ``lib/canparser.py:222-239`` (groupby-mean +
    unstack) with the same unknown-frame / wrong-length drops
    (:func:`_matched_frames` semantics, re-expressed as an In + size-map
    filter)."""
    cols = catalog.wide_columns()
    topics = list(catalog.iter_topics())
    if not topics:
        raise ValueError("empty catalog")
    n_words = max(2, -(-max(t.size for _, t in topics) // 4))
    ph = F.rpad(F.col("payload_hex"), 8 * n_words, "0")
    words = F.array(
        *[
            F.conv(ph.substr(8 * w + 1, 8), 16, 10).cast("long")
            for w in range(n_words)
        ]
    )
    key = (F.col("signature").cast("long") * 4096 + F.col("topic_id"))
    keys, size_entries = [], []
    for mod, top in topics:
        k = mod.signature * 4096 + top.topic_id
        keys.append(k)
        size_entries += [F.lit(k), F.lit(top.size)]
    base = frames.select(
        "timestamp",
        key.alias("__k"),
        F.col("payload_len").alias("__len"),
        words.alias("__w"),
    ).where(
        F.col("__k").isin(keys)
        & (
            F.col("__len")
            == F.element_at(F.create_map(*size_entries), F.col("__k"))
        )
    )
    idx_of = {c: i for i, c in enumerate(cols)}
    # SQL-text projection: one parsed string per wide column instead of
    # ~10 py4j Column calls per column — see _decode_field_static_sql
    exprs: list[str | None] = [None] * len(cols)
    for mod, top in topics:
        k = mod.signature * 4096 + top.topic_id
        for s in top.signals:
            name = SEPARATOR.join([mod.name, top.name, s.name])
            decode = _decode_field_static_sql(
                "__w", s.byte_offset, s.bit_offset, s.bit_width, s.scale
            )
            exprs[idx_of[name]] = f"CASE WHEN __k = {k} THEN {decode} END"
    if dup_ts is None:
        # thin duplicate-timestamp pass: ts-only (the scan prunes to the
        # timestamp group), 8-byte shuffle rows, collected because the
        # result is (nearly always) empty and folds into scan filters
        dup_rows = (
            frames.groupBy("timestamp")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .select("timestamp")
            .limit(_PROJECT_DUP_MAX + 1)
            .collect()
        )
        if len(dup_rows) > _PROJECT_DUP_MAX:
            raise ProjectDuplicateOverflow(
                f"decode_wide_project: more than {_PROJECT_DUP_MAX}"
                " duplicate timestamps — this corpus is same-us-heavy"
            )
        dup_ts = [r["timestamp"] for r in dup_rows]
    def out_col(e: str, c: str):
        # CAST(CASE.. AS FLOAT) == the previous two-projection
        # CASE-then-cast form (same double narrowed once, identical)
        return F.expr(
            f"CAST({e} AS FLOAT) AS `{c}`" if downcast else f"{e} AS `{c}`"
        )

    if not dup_ts:
        return base.select(
            "timestamp", *[out_col(e, c) for e, c in zip(exprs, cols)]
        )
    wide = base.select(
        "timestamp", *[F.expr(f"{e} AS `{c}`") for e, c in zip(exprs, cols)]
    )
    uniq = wide.where(~F.col("timestamp").isin(dup_ts)).select(
        "timestamp",
        *[
            F.expr(f"CAST(`{c}` AS FLOAT) AS `{c}`") if downcast else F.col(c)
            for c in cols
        ],
    )
    merged = (
        wide.where(F.col("timestamp").isin(dup_ts))
        .groupBy("timestamp")
        .agg(*[
            (F.avg(c).cast("float") if downcast else F.avg(c)).alias(c)
            for c in cols
        ])
    )
    return uniq.unionByName(merged)


# a CAN payload is at most 8 bytes, so a topic decodes to at most 8 fused
# fields — the shuffle form decodes all slots with fixed expressions
MAX_TOPIC_FIELDS = 8


def _decode_frame_entries(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """One row PER MATCHED FRAME with its decoded ``(idx, value)`` entry
    array ``_sv`` — no explode, no shuffle: each possible field slot is
    decoded by a fixed generic expression (null-idx slots filtered out).
    The slot count is the catalog's widest topic (at least 8), so every
    field a topic declares is decoded, CAN FD tails included."""
    matched = _matched_frames(frames, catalog)
    n_slots = max(
        MAX_TOPIC_FIELDS,
        max(len(t.signals) for _, t in catalog.iter_topics()),
    )
    slots = []
    for k in range(n_slots):
        # F.get is 0-based and null past the end (element_at throws there
        # under ANSI mode)
        f = F.get(F.col("_spec.fields"), k)
        slots.append(
            F.struct(
                f["idx"].alias("idx"),
                _decode_field(F.col("__w"), f).alias("value"),
            )
        )
    entries = F.filter(
        F.array(*slots), lambda x: x["idx"].isNotNull()
    )
    return matched.select("timestamp", entries.alias("_sv"))


def _merge_entries_mean(arr: Column) -> Column:
    """A1-merge an ``array<struct<idx,value>>`` into an int-keyed map with
    the mean per duplicate idx. When a row has no duplicates (the typical
    case) the entries ARE the map and the per-idx mean scans are skipped."""
    idxs = F.array_distinct(F.transform(arr, lambda x: x["idx"]))
    mean_of = lambda i: (  # noqa: E731
        F.aggregate(
            F.filter(arr, lambda x: x["idx"] == i),
            F.lit(0.0),
            lambda acc, x: acc + x["value"],
        )
        / F.size(F.filter(arr, lambda x: x["idx"] == i))
    )
    return F.when(
        F.size(idxs) == F.size(arr), F.map_from_entries(arr)
    ).otherwise(F.map_from_arrays(idxs, F.transform(idxs, mean_of)))


def _extract_wide_cols(
    m: DataFrame, cols: list[str], downcast: bool
) -> DataFrame:
    """(timestamp, _m map<idx,value>) → the static wide schema."""
    val = lambda i: F.col("_m").getItem(i)  # noqa: E731
    if downcast:
        val = lambda i: F.col("_m").getItem(i).cast("float")  # noqa: E731
    return m.select(
        "timestamp", *[val(i).alias(c) for i, c in enumerate(cols)]
    )


def pivot_wide(
    long_df: DataFrame, catalog: CanCatalog, strategy: str = "auto"
) -> DataFrame:
    """A1+A2: long signals → static wide schema (parity shape with the
    reference's groupby-mean + unstack). Pivot values come from the schema
    so the pivot is single-pass and the output schema is static.

    ``strategy="agg"`` plans one conditional-avg aggregate per wide column;
    ``"map"`` first A1-reduces per (timestamp, signal), then aggregates the
    few present signals into a map and extracts columns as projections —
    the scale path for wide catalogs where most columns are absent at any
    timestamp; ``"auto"`` picks by catalog width."""
    cols = catalog.wide_columns()
    if strategy not in ("auto", "agg", "map"):
        raise ValueError("strategy must be auto|agg|map")
    use_map = strategy == "map" or (
        strategy == "auto" and len(cols) > WIDE_PIVOT_MAX_AGG_COLS
    )
    name = F.concat_ws(
        SEPARATOR, F.col("module_name"), F.col("topic_name"), F.col("byte_name")
    )
    if not use_map:
        return (
            long_df.withColumn("_wide_name", name)
            .groupBy("timestamp")
            .pivot("_wide_name", cols)
            .agg(F.avg("value"))
        )
    a1 = (
        long_df.select("timestamp", name.alias("_wide_name"), "value")
        .groupBy("timestamp", "_wide_name")
        .agg(F.avg("value").alias("value"))
    )
    m = a1.groupBy("timestamp").agg(
        F.map_from_entries(
            F.collect_list(F.struct("_wide_name", "value"))
        ).alias("_m")
    )
    return m.select(
        "timestamp", *[F.col("_m").getItem(c).alias(c) for c in cols]
    )


def _decode_wide_shuffle(
    entries: DataFrame, catalog: CanCatalog, downcast: bool = True
) -> DataFrame:
    """The shuffle form of the wide decode, over the per-frame entry rows
    of :func:`_decode_frame_entries`: ONE ``groupBy(timestamp)`` whose
    shuffle carries thin ``(timestamp, entries)`` rows, then the A1
    per-signal mean (:func:`_merge_entries_mean`) and the static wide
    schema. No eager job, so it is stream-safe; a watermark set on
    ``entries`` bounds its state (:func:`streaming.stream_decode_wide`)."""
    merged = (
        entries.groupBy("timestamp")
        .agg(F.flatten(F.collect_list("_sv")).alias("_sv"))
        .select("timestamp", _merge_entries_mean(F.col("_sv")).alias("_m"))
    )
    return _extract_wide_cols(merged, catalog.wide_columns(), downcast)


def decode_wide(
    frames: DataFrame,
    catalog: CanCatalog,
    downcast: bool = True,
) -> DataFrame:
    """Decode + pivot to the wide table: one row per timestamp holding at
    least one matched frame, same-µs duplicate frames averaged per signal
    (A1), unknown and wrong-length frames dropped. ``downcast=True`` casts
    value columns to float, the faithful superset of the reference's
    float16 (``lib/canparser.py:234``, P17).

    Batch frames take :func:`decode_wide_project`, whose construction runs
    its eager duplicate-timestamp job; past ``_PROJECT_DUP_MAX``
    duplicate timestamps it warns and takes the shuffle form instead.
    Streaming frames take the shuffle form (:func:`_decode_wide_shuffle`)
    and run no eager job."""
    if not frames.isStreaming:
        try:
            return decode_wide_project(frames, catalog, downcast=downcast)
        except ProjectDuplicateOverflow as exc:
            warnings.warn(
                f"decode_wide: {exc}; falling back to the shuffle form",
                stacklevel=2,
            )
    return _decode_wide_shuffle(
        _decode_frame_entries(frames, catalog), catalog, downcast
    )
