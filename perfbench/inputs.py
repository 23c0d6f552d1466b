"""Seeded benchmark inputs, generated without Spark and cached by (seed, size).

Every table is a pure function of ``--seed``: the image rows come from
``driftspark.synth._gen_rows`` (the row generator behind
``synth_image_table(with_bytes=False)``), the payload pairs follow
``synth_image_pairs_wide`` row for row.  The generator also records what a
correct run must return, derived from its own parameters or from a numpy
brute force, so the benchmark never trusts the program for its expected
values.

Generation runs before Spark starts, so the first (cold) pass really is cold
and set-up time does not include the benchmark's own input cost.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from driftspark import synth
from driftspark.imageops import encode_lossy, encode_png

N_PARTS = 64
DUP_EVERY = 1000
DANGLING_EVERY = 2000
CORRUPT_EVERY = 500
CAPTION_EDIT_EVERY = 700
N_PARENT = 100
HOT_SHARE = 0.25
FILES = 8

IMAGE_ARROW_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("part", pa.int32()),
        ("split", pa.string()),
        ("fk_dataset_id", pa.string()),
    ]
)


def ks_d(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample KS D by brute force over the pooled values."""
    a, b = np.sort(a), np.sort(b)
    v = np.union1d(a, b)
    fa = np.searchsorted(a, v, side="right") / len(a)
    fb = np.searchsorted(b, v, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def wasserstein_1(a: np.ndarray, b: np.ndarray) -> float:
    """W1 between two empirical distributions (scipy's CDF-difference form)."""
    a, b = np.sort(a), np.sort(b)
    v = np.union1d(a, b)
    fa = np.searchsorted(a, v[:-1], side="right") / len(a)
    fb = np.searchsorted(b, v[:-1], side="right") / len(b)
    return float(np.sum(np.abs(fa - fb) * np.diff(v)))


def _image_rows(seed: int, n_rows: int, hot: bool) -> tuple[pd.DataFrame, dict]:
    """Split-tagged image metadata rows.  The seed picks which half of the
    partitions drifts and, when ``hot``, one partition that receives about
    a quarter of the test rows on top of its own share."""
    ids = np.arange(n_rows, dtype=np.int64)
    is_test = ids >= n_rows // 2
    part = ids % N_PARTS
    rng = np.random.default_rng(seed)
    drifted = np.zeros(N_PARTS, dtype=bool)
    drifted[rng.choice(N_PARTS, N_PARTS // 2, replace=False)] = True
    hot_part = None
    if hot:
        hot_part = int(rng.integers(N_PARTS))
        to_hot = is_test & (synth._u(seed, 40, ids.astype(np.uint64)) < HOT_SHARE)
        part = np.where(to_hot, hot_part, part)
    drift_row = is_test & drifted[part]
    frames = []
    for flag in (False, True):
        sel = ids[drift_row == flag]
        f = synth._gen_rows(
            sel, seed, n_rows, N_PARTS, flag, False, DUP_EVERY, DANGLING_EVERY
        )
        f.index = sel
        frames.append(f)
    df = pd.concat(frames).sort_index()
    df["part"] = part.astype(np.int32)

    ref = df[~is_test]
    test = df[is_test]
    ks = {}
    for c in ("w", "h"):
        rv = ref[c].to_numpy(np.float64)
        for p, g in test.groupby("part"):
            ks[f"{p}|{c}"] = ks_d(rv, g[c].to_numpy(np.float64))
    expect = {
        "n_rows": n_rows,
        "n_ref": int(len(ref)),
        "drifted": [int(p) for p in np.flatnonzero(drifted)],
        "hot_part": hot_part,
        "rows_by_part": np.bincount(part, minlength=N_PARTS).tolist(),
        "test_by_part": np.bincount(part[is_test], minlength=N_PARTS).tolist(),
        "n_dup_keys": n_rows // DUP_EVERY,
        "dangling_fks": sorted(
            f"ds_miss_{k}" for k in ids[ids % DANGLING_EVERY == DANGLING_EVERY - 1]
        ),
        "ks_d": ks,
    }
    return df, expect


def _pairs(seed: int, n_pairs: int) -> tuple[pd.DataFrame, dict]:
    """Co-located ref/test payload pairs, as synth_image_pairs_wide builds them."""
    ids = np.arange(n_pairs, dtype=np.int64)
    fmt = synth._choice(synth._u(seed, 11, ids.astype(np.uint64)), ["png", "jpeg"], [0.5, 0.5])
    rows = {k: [] for k in ("image_id", "ref_bytes", "ref_caption", "test_bytes", "test_caption", "fmt", "part")}
    for p in range(n_pairs):
        px = synth._pixels_for(seed, p, 16, 16, 0)
        cap = f"caption {p} {synth._VOCAB[p % len(synth._VOCAB)]}"
        tpx, tcap = px, cap
        if p % CORRUPT_EVERY == CORRUPT_EVERY - 1:
            noise = np.random.Generator(np.random.Philox(key=seed + 1, counter=p)).integers(-40, 41, size=px.shape)
            tpx = np.clip(px.astype(np.int64) + noise, 0, 255).astype(np.uint8)
        elif fmt[p] == "jpeg":
            jitter = np.random.Generator(np.random.Philox(key=seed + 2, counter=p)).integers(-2, 3, size=px.shape)
            tpx = np.clip(px.astype(np.int64) + jitter, 0, 255).astype(np.uint8)
        if p % CAPTION_EDIT_EVERY == CAPTION_EDIT_EVERY - 1:
            tcap = cap + " EDITED"
        enc = encode_png if fmt[p] == "png" else encode_lossy
        rows["image_id"].append(f"img_{p:010d}")
        rows["ref_bytes"].append(enc(px))
        rows["ref_caption"].append(cap)
        rows["test_bytes"].append(enc(tpx))
        rows["test_caption"].append(tcap)
        rows["fmt"].append(fmt[p])
        rows["part"].append(p % N_PARTS)
    df = pd.DataFrame(rows)
    df["part"] = df["part"].astype(np.int32)
    expect = {
        "n_pairs": n_pairs,
        "bad_pixels": [f"img_{p:010d}" for p in ids[ids % CORRUPT_EVERY == CORRUPT_EVERY - 1]],
        "bad_captions": [f"img_{p:010d}" for p in ids[ids % CAPTION_EDIT_EVERY == CAPTION_EDIT_EVERY - 1]],
    }
    return df, expect


def _detector_truth(images: pd.DataFrame, features) -> dict:
    ref = images[images["split"] == "ref"]
    test = images[images["split"] == "test"]
    out = {}
    for c in features:
        a, b = ref[c].to_numpy(np.float64), test[c].to_numpy(np.float64)
        out[c] = {"ks_d": ks_d(a, b), "w1": wasserstein_1(a, b)}
    return out


def build(cache: Path, name: str, seed: int, sizes: dict) -> tuple[Path, dict]:
    """Return (input directory, expectations) for one workload, generating
    them on a cache miss.  ``sizes`` holds n_rows, hot, and optionally
    n_pairs and detector_features."""
    key = f"{name}-s{seed}-f{FILES}-" + "-".join(f"{k}{v}" for k, v in sorted(sizes.items()) if k != "detector_features")
    root = cache / "inputs"
    d = root / key
    if (d / "expect.json").exists():
        return d, json.loads((d / "expect.json").read_text())
    tmp = root / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    images, expect = _image_rows(seed, sizes["n_rows"], sizes["hot"])
    _write_files(
        pa.Table.from_pandas(images, schema=IMAGE_ARROW_SCHEMA, preserve_index=False),
        tmp / "images.parquet",
    )
    if sizes.get("n_pairs"):
        pairs, pexpect = _pairs(seed, sizes["n_pairs"])
        _write_files(pa.Table.from_pandas(pairs, preserve_index=False), tmp / "pairs.parquet")
        expect.update(pexpect)
        parent = pd.DataFrame({"dataset_id": [f"ds_{k:04d}" for k in range(N_PARENT)]})
        pq.write_table(pa.Table.from_pandas(parent, preserve_index=False), tmp / "parent.parquet")
    if sizes.get("detector_features"):
        expect["detectors"] = _detector_truth(images, sizes["detector_features"])
    (tmp / "expect.json").write_text(json.dumps(expect))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, expect


def _write_files(table: pa.Table, path: Path) -> None:
    """A table as FILES parquet files in one directory, so a scan gets one
    task per file as on a real multi-file table, not one task in all."""
    path.mkdir()
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")

