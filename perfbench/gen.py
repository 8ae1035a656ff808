"""Seeded input generation for the benchmark, with the expected answers.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs and the same expected answers. Inputs are cached under
``<cache>/<workload>-<seed>-<size tag>/`` with an ``expected.json`` written last, so a
half-written directory is never reused. Only the newest seed of each
workload is kept, which bounds the disk a long series of runs uses.

Doubles are multiples of 1/8 (exact in binary), so their sums are exact in
any summation order and can be compared with ``==``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np

# the 18 top-level columns shared by the two JSON workloads
FILLERS = [f"s{i:02d}" for i in range(12)]
JSON_SCHEMA = (
    "id BIGINT, uid STRING, k BIGINT, v DOUBLE, flag BOOLEAN, "
    "meta STRUCT<lang: STRING, region: STRING, score: BIGINT>, "
    + ", ".join(f"{c} STRING" for c in FILLERS)
)
LANGS = ["en", "de", "fr", "es", "it", "nl", "pt", "pl"]
# the shape of TESTDATA sf0.1 ``documents`` and ``embeddings``, as measured
# on those tables (see README.md): 5,000 documents of 10-99 words drawn
# uniformly from 30 equally likely words, 5% of them a copy of another
# document with " dup" appended; 2,000 vectors of 64 floats, N(0, 0.125) in
# every coordinate, with labels 0-9 that carry no cluster structure
DOC_WORDS = (
    "spark window table merge vector value stream column small data join "
    "filter big group sort hash customer slow order line the row part fast "
    "key agg query a scan batch"
).split()
DOC_LANGS = ["de", "en", "es", "fr", "zh"]
DOC_LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
DOC_SOURCES = 20

SIZES = {
    "json_bigfile": {"rows": 48_000},
    "json_dirty_parts": {"rows": 12_000, "parts": 16, "bad_frac": 0.002},
    "write_roundtrip": {"rows": 300_000},
    "pipeline_ops": {"docs": 5_000, "vecs": 2_000, "dup_frac": 0.05},
}
PIPELINE_TABLES = ["documents", "embeddings"]


def _rng(seed: int, salt: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# ------------------------------------------------------------------ JSON rows


def json_lines(seed: int, rows: int, salt: str) -> tuple[list[bytes], dict]:
    """``rows`` NDJSON lines of the 18-column schema, plus per-row columns
    (as numpy arrays) from which the expected answers are computed."""
    r = _rng(seed, salt)
    k = r.integers(0, 100, rows)
    vn = r.integers(0, 8000, rows)
    flag = r.integers(0, 2, rows).astype(bool)
    lang = r.integers(0, len(LANGS), rows)
    region = r.integers(0, 20, rows)
    score = r.integers(0, 1_000_000, rows)
    flen = r.integers(8, 40, (rows, len(FILLERS)))
    pool = "".join(chr(97 + c) for c in r.integers(0, 26, 1 << 16))
    offs = r.integers(0, (1 << 16) - 40, (rows, len(FILLERS)))
    base = int(r.integers(0, 1 << 40))
    lines = []
    for i, ki, vi, fi, li, ri, si, oi, ni in zip(
        range(base, base + rows),
        k.tolist(),
        vn.tolist(),
        flag.tolist(),
        lang.tolist(),
        region.tolist(),
        score.tolist(),
        offs.tolist(),
        flen.tolist(),
    ):
        fill = ", ".join(
            f'"{c}": "{pool[o:o + n]}"' for c, o, n in zip(FILLERS, oi, ni)
        )
        lines.append(
            (
                f'{{"id": {i}, "uid": "u{i:012x}", "k": {ki}, "v": {vi / 8!r}, '
                f'"flag": {"true" if fi else "false"}, "meta": {{"lang": '
                f'"{LANGS[li]}", "region": "r{ri:02d}", "score": {si}}}, {fill}}}'
            ).encode()
        )
    cols = {
        "id": np.arange(base, base + rows, dtype=np.int64),
        "k": k,
        "vn": vn,
        "flag": flag,
        "lang": lang,
        "score": score,
        "text_len": flen.sum(axis=1) + 13,  # uid is always 13 characters
    }
    return lines, cols


def _sum_v(vn: np.ndarray) -> float:
    return int(vn.sum()) / 8


def _json_answers(cols: dict, good: np.ndarray) -> dict:
    """Expected answers over the rows selected by the boolean mask ``good``."""
    g = {c: a[good] for c, a in cols.items()}
    m3 = g["k"] == 3
    per_lang = {}
    for li, name in enumerate(LANGS):
        sel = g["lang"] == li
        if sel.any():
            per_lang[name] = [int(sel.sum()), _sum_v(g["vn"][sel])]
    return {
        "rows": int(good.sum()),
        "sum_id": int(g["id"].sum()),
        "sum_k": int(g["k"].sum()),
        "sum_v": _sum_v(g["vn"]),
        "sum_score": int(g["score"].sum()),
        "n_flag": int(g["flag"].sum()),
        "text_len": int(g["text_len"].sum()),
        "k3_rows": int(m3.sum()),
        "k3_sum_id": int(g["id"][m3].sum()),
        "per_lang": per_lang,
    }


def gen_json_bigfile(out: Path, seed: int, rows: int) -> dict:
    lines, cols = json_lines(seed, rows, "bigfile")
    path = out / "big.ndjson"
    path.write_bytes(b"\n".join(lines) + b"\n")
    exp = _json_answers(cols, np.ones(rows, dtype=bool))
    exp["input_bytes"] = path.stat().st_size
    return exp


def gen_json_dirty_parts(out: Path, seed: int, rows: int, parts: int, bad_frac: float) -> dict:
    """``parts`` NDJSON files; ``bad_frac`` of the lines are cut short at a
    random byte inside the line (any proper prefix of an object is invalid
    JSON, so every cut line is malformed)."""
    lines, cols = json_lines(seed, rows, "dirty")
    r = _rng(seed, "dirty-cuts")
    n_bad = max(1, round(rows * bad_frac))
    bad = np.zeros(rows, dtype=bool)
    bad[r.choice(rows, n_bad, replace=False)] = True
    for i in np.flatnonzero(bad).tolist():
        lines[i] = lines[i][: int(r.integers(1, len(lines[i])))]
    d = out / "parts"
    d.mkdir()
    bounds = np.linspace(0, rows, parts + 1).astype(int)
    for p in range(parts):
        chunk = lines[bounds[p] : bounds[p + 1]]
        (d / f"part-{p:05d}.json").write_bytes(b"\n".join(chunk) + b"\n")
    exp = _json_answers(cols, ~bad)
    exp["lines"] = rows
    exp["malformed"] = n_bad
    exp["input_bytes"] = sum(f.stat().st_size for f in d.iterdir())
    return exp


# --------------------------------------------------------- write round trip

# the JVM builds the rows from ``spark.range``; both sides use this formula
K_MUL, SEED_MUL = 7919, 104729


def roundtrip_k(ids: np.ndarray, seed: int) -> np.ndarray:
    return (ids * K_MUL + seed * SEED_MUL) % 100


def roundtrip_sql(seed: int) -> list[str]:
    """Select expressions over ``spark.range`` producing the written rows."""
    return [
        "id",
        f"CAST(pmod(id * {K_MUL} + {seed * SEED_MUL}, 100) AS INT) AS k",
        "CAST(id AS DOUBLE) / 8 AS v",
        "concat('row-', CAST(id AS STRING)) AS name",
        f"CAST(pmod(id, 7) + {seed % 13} AS INT) AS grp",
    ]


def gen_write_roundtrip(out: Path, seed: int, rows: int) -> dict:
    ids = np.arange(rows, dtype=np.int64)
    m3 = roundtrip_k(ids, seed) == 3
    (out / "written").mkdir()
    return {"rows": rows, "k3_rows": int(m3.sum()), "k3_sum_id": int(ids[m3].sum())}


# ------------------------------------------------------------ pipeline ops


def gen_pipeline_ops(out: Path, seed: int, docs: int, vecs: int, dup_frac: float) -> dict:
    """The two tables the registered operators of this workload read, in the
    TESTDATA column layout and with the shape of sf0.1 (DOC_WORDS above)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = _rng(seed, "pipeline")
    texts = [
        " ".join(DOC_WORDS[i] for i in r.integers(0, len(DOC_WORDS), int(n)))
        for n in r.integers(10, 100, docs)
    ]
    n_dup = round(docs * dup_frac)
    dups = r.choice(docs, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(docs), dups)
    for d, o in zip(dups.tolist(), r.choice(originals, n_dup).tolist()):
        texts[d] = texts[o] + " dup"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(docs), pa.int64()),
                "text": texts,
                "lang": [DOC_LANGS[i] for i in r.choice(len(DOC_LANGS), docs, p=DOC_LANG_P)],
                "source": [f"src{i % DOC_SOURCES}" for i in range(docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        out / "documents.parquet",
    )
    emb = r.normal(0, 0.125, (vecs, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(vecs), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(r.integers(0, 10, vecs), pa.int32()),
            }
        ),
        out / "embeddings.parquet",
    )
    return {"tables": PIPELINE_TABLES, "docs": docs, "vecs": vecs, "dups": n_dup}


GENERATORS = {
    "json_bigfile": gen_json_bigfile,
    "json_dirty_parts": gen_json_dirty_parts,
    "write_roundtrip": gen_write_roundtrip,
    "pipeline_ops": gen_pipeline_ops,
}


def ensure_inputs(cache: Path, workload: str, seed: int, **size) -> tuple[Path, dict, float]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``.
    Returns (directory, expected answers, seconds spent generating)."""
    size = size or SIZES[workload]
    tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    d = cache / f"{workload}-{seed}-{tag}"
    done = d / "expected.json"
    if done.exists():
        return d, json.loads(done.read_text()), 0.0
    cache.mkdir(parents=True, exist_ok=True)
    for old in cache.glob(f"{workload}-*"):
        shutil.rmtree(old)
    t0 = time.perf_counter()
    d.mkdir()
    exp = GENERATORS[workload](d, seed, **size)
    tmp = d / "expected.json.tmp"
    tmp.write_text(json.dumps(exp, sort_keys=True))
    os.replace(tmp, done)
    return d, exp, time.perf_counter() - t0


def tree_digest(d: Path) -> str:
    """sha256 over every input file's relative path and bytes."""
    h = hashlib.sha256()
    for f in sorted(p for p in d.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(d)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()
