"""Seeded corpus generator for the telemetry benchmark.

Writes candump text in time-ordered files (file names sort in time order,
each file one contiguous time block), plus the enrichment inputs the
reference's unify stages read: a Solcast-style PT5M forecast CSV and a
1 Hz GPX track. The reject classes of the reference's parse report are
planted at fixed rates, and ``gaps`` silent stretches longer than the
resample ``max_gap_seconds`` are cut into the timeline.

Everything the output checks need is recorded here, at generation time,
from the generator's own arrays, never from the program under test:

* ``valid_lines``: frames the parse stage must keep (one wide row each,
  since every frame has its own microsecond);
* ``grid_rows``: rows of the dense resample grid between the first and
  last valid frame;
* ``probe``: the per-bucket mean of one signal (``GEN00.T02.DUTY``, one
  byte scaled by 1/255) for every grid bucket holding samples of it.

A corpus is cached under ``<root>/<workload>-s<seed>-n<lines>-<spec hash>/``
and is reused by later runs with the same key. It is written into a
temporary directory that is renamed into place when complete, so an
interrupted generation is never reused.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

# line kinds, with the share of lines each is planted at
GARBAGE, TRUNCATED, UNKNOWN_SIG, OVERSIZE, VALID = range(5)
REJECT_SHARES = {GARBAGE: 0.002, TRUNCATED: 0.001, UNKNOWN_SIG: 0.005, OVERSIZE: 0.002}
UNKNOWN_SIG_BYTE = 0xFF  # no catalog module uses it (signatures are 100-123)

# the probe signal: module GEN00 (signature 100), topic T02 (id 0x102),
# whose layout is [signature u8, DUTY u8 (units "%" = 1/255), EN bitfield]
PROBE_SIG, PROBE_TOPIC, PROBE_COLUMN = 100, 0x102, "GEN00__T02__DUTY"


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's corpus."""

    lines: int
    modules: int  # how many catalog modules frames are drawn from
    dt_us: int  # mean spacing between consecutive lines
    period_s: float  # resample grid period
    files: int
    gaps: int  # silent gaps longer than max_gap_seconds
    gap_s: tuple[int, int]  # gap length range, seconds
    base_epoch: int


def build_catalog(modules: int) -> dict:
    """The reference-shaped 24-module / 56-topic catalog of
    ``scripts/e2e_report_scale.py``, cut to its first ``modules``."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(here, "scripts"))
    argv, sys.argv = sys.argv, sys.argv[:1]  # the script reads argv at import
    try:
        import e2e_report_scale
    finally:
        sys.argv = argv
        sys.path.remove(os.path.join(here, "scripts"))
    raw = e2e_report_scale.build_catalog()
    raw["modules"] = raw["modules"][:modules]
    return raw


def _topics(raw: dict) -> list[tuple[int, int, int]]:
    """(signature, topic id, payload bytes incl. signature) per topic.
    Payload size is the sum of the storage units of the fused fields
    (``_H`` halves skipped), the length the decode guard demands."""
    unit = {"uint8_t": 1, "uint16_t": 2, "bitfield": 1}
    out = []
    for mod in raw["modules"]:
        for top in mod["topics"]:
            size = sum(
                unit[b["type"]] for b in top["bytes"] if not b["name"].endswith("_H")
            )
            out.append((mod["signature"], top["id"], size))
    return out


def _iso(us: int) -> str:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def generate(spec: Spec, seed: int, out_dir: str) -> dict:
    """Write one corpus into ``out_dir`` and return its metadata."""
    rng = np.random.default_rng(seed)
    raw = build_catalog(spec.modules)
    topics = _topics(raw)
    n = spec.lines

    kind = np.full(n, VALID, dtype=np.int8)
    u = rng.random(n)
    lo = 0.0
    for k, share in REJECT_SHARES.items():
        kind[(u >= lo) & (u < lo + share)] = k
        lo += share
    kind[0] = kind[-1] = VALID  # the crop bounds are then valid frames

    # strictly increasing µs timestamps: a jitter below the spacing, plus
    # the planted silent gaps
    ts = np.arange(n, dtype=np.int64) * spec.dt_us + rng.integers(
        0, spec.dt_us // 2, n
    )
    if spec.gaps:
        at = np.sort(rng.choice(np.arange(n // 10, n - n // 10), spec.gaps, replace=False))
        for i in at:
            ts[i:] += int(rng.integers(spec.gap_s[0], spec.gap_s[1] + 1)) * 1_000_000
    ts += spec.base_epoch * 1_000_000

    t_idx = rng.integers(0, len(topics), n)
    body = rng.integers(0, 256, (n, 8), dtype=np.uint8)

    lines = []
    for i in range(n):
        k = kind[i]
        stamp = f"({ts[i] // 1_000_000}.{ts[i] % 1_000_000:06d})"
        if k == GARBAGE:
            lines.append("garbage line with no frame at all ###")
            continue
        if k == TRUNCATED:
            lines.append(f"{stamp} can0 301#fa9f0")  # odd hex digit count
            continue
        sig, tid, size = topics[t_idx[i]]
        payload = bytes(body[i, : size - 1]).hex()
        sig_b = UNKNOWN_SIG_BYTE if k == UNKNOWN_SIG else sig
        tail = "00" if k == OVERSIZE else ""
        lines.append(f"{stamp} can0 {tid:03x}#{sig_b:02x}{payload}{tail}")

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "candump"))
    bounds = np.linspace(0, n, spec.files + 1).astype(int)
    for f in range(spec.files):
        with open(os.path.join(tmp, "candump", f"log_{f:03d}.log"), "w") as fh:
            fh.write("\n".join(lines[bounds[f] : bounds[f + 1]]) + "\n")
    with open(os.path.join(tmp, "can_ids.json"), "w") as fh:
        json.dump(raw, fh)

    valid = kind == VALID
    first_us, last_us = int(ts[valid][0]), int(ts[valid][-1])
    p_us = int(round(spec.period_s * 1_000_000))
    grid_rows = last_us // p_us - first_us // p_us + 1

    probe_t = [t[:2] for t in topics].index((PROBE_SIG, PROBE_TOPIC))
    probe = valid & (t_idx == probe_t)
    buckets = ts[probe] // p_us * p_us
    values = body[probe, 0].astype(np.float64) / 255.0
    uniq, inv = np.unique(buckets, return_inverse=True)
    means = np.bincount(inv, weights=values) / np.bincount(inv)

    # forecast: Solcast PT5M rows from 15 min before to 15 min after the span
    fc_start = (first_us // 1_000_000 - 900) // 300 * 300
    fc_end = last_us // 1_000_000 + 900
    with open(os.path.join(tmp, "forecast.csv"), "w") as fh:
        fh.write("PeriodStart,ghi,dni,dhi\n")
        for t in range(fc_start, fc_end, 300):
            g, d, h = rng.integers(0, 1000, 3)
            fh.write(f"{_iso(t * 1_000_000)},{g}.0,{d}.0,{h}.0\n")

    # GPS: a 1 Hz GPX track over the whole span, gaps included
    with open(os.path.join(tmp, "track.gpx"), "w") as fh:
        fh.write(
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<gpx version="1.1" creator="perfbench" '
            'xmlns="http://www.topografix.com/GPX/1/1">\n<trk><trkseg>\n'
        )
        lat, lon = -27.59, -48.55
        for t in range(first_us // 1_000_000, last_us // 1_000_000 + 2):
            lat += float(rng.normal(0, 2e-5))
            lon += float(rng.normal(0, 2e-5))
            fh.write(
                f'<trkpt lat="{lat:.6f}" lon="{lon:.6f}"><ele>3.0</ele>'
                f"<time>{_iso(t * 1_000_000)}</time></trkpt>\n"
            )
        fh.write("</trkseg></trk></gpx>\n")

    np.savez(os.path.join(tmp, "probe.npz"), bucket_us=uniq, mean=means)
    meta = {
        "seed": seed,
        "lines": n,
        "files": spec.files,
        "valid_lines": int(valid.sum()),
        "rejects": {
            name: int((kind == k).sum())
            for name, k in (
                ("garbage", GARBAGE), ("truncated", TRUNCATED),
                ("unknown_signature", UNKNOWN_SIG), ("oversize", OVERSIZE),
            )
        },
        "first_us": first_us,
        "last_us": last_us,
        "period_s": spec.period_s,
        "grid_rows": int(grid_rows),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return meta


def ensure(root: str, workload: str, spec: Spec, seed: int) -> tuple[str, dict]:
    """Return (corpus dir, metadata), generating the corpus if the cache
    has no complete copy for this workload, seed and spec."""
    key = hashlib.sha256(repr(spec).encode()).hexdigest()[:8]
    out = os.path.join(root, f"{workload}-s{seed}-n{spec.lines}-{key}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh)
    os.makedirs(root, exist_ok=True)
    return out, generate(spec, seed, out)


def load_probe(corpus_dir: str) -> dict[int, float]:
    """Expected probe-signal mean per grid bucket (bucket start, µs)."""
    z = np.load(os.path.join(corpus_dir, "probe.npz"))
    return dict(zip(z["bucket_us"].tolist(), z["mean"].tolist()))
