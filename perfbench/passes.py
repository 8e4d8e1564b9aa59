"""One pass of each workload through the public pipeline API, and the
checks run on its outputs.

A batch pass composes the reference's four stages the way
``examples/main_2022_spark.py`` and ``scripts/e2e_report_scale.py`` do:
every stage's output is written to parquet and the next stage reads it
back. A stream pass drains the file stream of
``streaming/pipeline.py`` once with ``availableNow``.

Each layer is split into parts (``read``, ``call``, ``write``). When a
pass is traced, every part runs under its own Spark job group
``<pass>:<layer>:<part>`` and its wall-clock interval is recorded, so the
event log can attribute jobs to layers; untraced passes do neither.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import corpus as corpus_mod

BATCH_LAYERS = ("parse", "resample", "unify_forecast", "unify_gps")
STREAM_WATERMARK_S = 10.0
FORECAST_GRID_S = 300.0


class CheckFailed(Exception):
    """An output differs from what the generator recorded."""


@dataclass
class Spans:
    """Layer spans of one pass: ``(layer, part, start, end)`` in epoch
    seconds, recorded only when ``traced``."""

    sc: object
    tag: str
    traced: bool
    spans: list = field(default_factory=list)

    @contextmanager
    def part(self, layer: str, part: str):
        if not self.traced:
            yield
            return
        self.sc.setJobGroup(f"{self.tag}:{layer}:{part}", layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, part, t0, time.time()))
            self.sc._jsc.clearJobGroup()


def parquet_rows_bytes(path: str) -> tuple[int, int]:
    """Rows (from the footers) and bytes of a parquet output directory."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files)


def batch_pass(spark, c, out: str, spans: Spans) -> dict[str, str]:
    """parse → resample → unify-forecast → unify-GPS, each stage's output
    written to parquet under ``out``. Returns layer → output path."""
    from solarboat_data_pipeline_spark.functions.geo import derive_track
    from solarboat_data_pipeline_spark.pipeline import (
        parse_stage,
        resample_stage,
        unify_forecast_stage,
        unify_gps_stage,
    )
    from solarboat_data_pipeline_spark.sources.csvs import scan_forecast_csv
    from solarboat_data_pipeline_spark.sources.gpx import scan_gpx
    from solarboat_data_pipeline_spark.sources.sinks import write_parquet

    paths = {layer: os.path.join(out, layer) for layer in BATCH_LAYERS}

    with spans.part("parse", "call"):
        wide = parse_stage(spark, c.candump, c.catalog)
    with spans.part("parse", "write"):
        write_parquet(wide, paths["parse"], mode="overwrite")

    with spans.part("resample", "read"):
        sparse = spark.read.parquet(paths["parse"])
    with spans.part("resample", "call"):
        res = resample_stage(sparse, c.period_s)
    with spans.part("resample", "write"):
        write_parquet(res, paths["resample"], mode="overwrite")

    with spans.part("unify_forecast", "read"):
        grid = spark.read.parquet(paths["resample"])
        forecast = scan_forecast_csv(spark, c.forecast, prefix="")
    with spans.part("unify_forecast", "call"):
        fc = unify_forecast_stage(grid, forecast, c.period_s)
    with spans.part("unify_forecast", "write"):
        write_parquet(fc, paths["unify_forecast"], mode="overwrite")

    with spans.part("unify_gps", "read"):
        telemetry = spark.read.parquet(paths["unify_forecast"])
        track = derive_track(scan_gpx(spark, c.gpx)).select(
            "timestamp", "latitude", "longitude", "altitude",
            "speed", "heading", "distance",
        )
    with spans.part("unify_gps", "call"):
        unified = unify_gps_stage(telemetry, track)
    with spans.part("unify_gps", "write"):
        write_parquet(unified, paths["unify_gps"], mode="overwrite")
    return paths


def stream_pass(spark, c, out: str, spans: Spans) -> tuple[dict[str, str], list, str]:
    """stream_candump → stream_decode_long → stream_resample_mean →
    stream_enrich_grid → write_parquet_stream, one file per micro-batch,
    drained with ``availableNow``. Returns the output path, the query's
    progress reports and its run id."""
    from solarboat_data_pipeline_spark.sources.csvs import scan_forecast_csv
    from solarboat_data_pipeline_spark.streaming.pipeline import (
        stream_candump,
        stream_decode_long,
        stream_enrich_grid,
        stream_resample_mean,
        write_parquet_stream,
    )

    path, ckpt = os.path.join(out, "stream"), os.path.join(out, "stream_ckpt")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    with spans.part("stream", "call"):
        lines = stream_candump(
            spark, os.path.join(c.candump, "*.log"), max_files_per_trigger=1
        )
        signals = stream_decode_long(lines, c.catalog)
        means = stream_resample_mean(
            signals, c.period_s, watermark=f"{STREAM_WATERMARK_S:g} seconds"
        )
        forecast = scan_forecast_csv(spark, c.forecast, prefix="")
        enriched = stream_enrich_grid(
            means, forecast, FORECAST_GRID_S, prefix="solcast_"
        )
        query = write_parquet_stream(enriched, path, ckpt)
        query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    progress = [json.loads(p.json) for p in query.recentProgress]
    return {"stream": path}, progress, str(query.runId)


# ---------------------------------------------------------------------------
# output checks: outside Spark (parquet footers, DuckDB, generator arrays)


def _digest(path: str) -> str:
    """Order-insensitive digest of a parquet table: row count plus the
    sum of per-row hashes, doubles rounded to 6 decimals."""
    con = duckdb.connect()
    try:
        rel = con.read_parquet(os.path.join(path, "*.parquet"))
        cols = []
        for name, typ in zip(rel.columns, rel.types):
            q = '"' + name.replace('"', '""') + '"'
            cols.append(f"round({q}, 6)" if str(typ) in ("DOUBLE", "FLOAT") else q)
        n, h = con.execute(
            f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) FROM rel"
        ).fetchone()
    finally:
        con.close()
    return f"{n}:{h}"


def _probe_values(path: str, where: str, col: str) -> dict[int, float]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT epoch_us(timestamp), {col} FROM read_parquet('{path}/*.parquet') "
            f"WHERE {where}"
        ).fetchall()
    finally:
        con.close()
    return dict(rows)


def _compare_probe(got: dict[int, float], want: dict[int, float], what: str) -> None:
    bad = [k for k, v in want.items() if k not in got or abs(got[k] - v) > 1e-6]
    if bad:
        k = bad[0]
        raise CheckFailed(
            f"{what}: {len(bad)} of {len(want)} probe buckets differ, first at "
            f"{k}: got {got.get(k)}, want {want[k]}"
        )


def check_batch(c, paths: dict[str, str]) -> dict[str, tuple[int, int]]:
    """Exact row counts against the generator, and the probe signal's
    per-bucket means on the resample grid against the generator's own
    arithmetic (read with DuckDB). Returns layer → (rows, bytes)."""
    out = {layer: parquet_rows_bytes(p) for layer, p in paths.items()}
    if out["parse"][0] != c.meta["valid_lines"]:
        raise CheckFailed(f"parse rows {out['parse'][0]} != {c.meta['valid_lines']}")
    for layer in ("resample", "unify_forecast", "unify_gps"):
        if out[layer][0] != c.meta["grid_rows"]:
            raise CheckFailed(f"{layer} rows {out[layer][0]} != {c.meta['grid_rows']}")
    col = corpus_mod.PROBE_COLUMN
    got = _probe_values(paths["resample"], f"{col} IS NOT NULL", col)
    _compare_probe(got, c.probe, "resample")
    return out


def check_stream(c, paths: dict[str, str]) -> dict[str, tuple[int, int]]:
    """The probe signal's emitted windows: each equals the generator's
    mean, and every window the final watermark has passed is emitted."""
    out = {"stream": parquet_rows_bytes(paths["stream"])}
    where = "module_name = 'GEN00' AND topic_name = 'T02' AND byte_name = 'DUTY'"
    got = _probe_values(paths["stream"], where, "value")
    extra = sorted(set(got) - set(c.probe))
    if extra:
        raise CheckFailed(f"stream emitted {len(extra)} windows with no samples")
    p_us = int(round(c.period_s * 1e6))
    horizon = c.meta["last_us"] - int(STREAM_WATERMARK_S * 1e6)
    want = {k: v for k, v in c.probe.items() if k + p_us <= horizon}
    _compare_probe(got, want, "stream")
    return out


def check_digest(path: str, seen: dict, digest_file: str) -> None:
    """The final table's digest must equal the one of the first pass of
    this run and the one recorded by earlier runs on the same corpus."""
    d = _digest(path)
    if "digest" not in seen:
        seen["digest"] = d
        if os.path.exists(digest_file):
            with open(digest_file) as fh:
                seen["recorded"] = fh.read().strip()
        else:
            with open(digest_file + ".tmp", "w") as fh:
                fh.write(d)
            os.replace(digest_file + ".tmp", digest_file)
            seen["recorded"] = d
    if d != seen["digest"] or d != seen["recorded"]:
        raise CheckFailed(
            f"digest {d} differs (first pass {seen['digest']}, recorded {seen['recorded']})"
        )
