"""Seeded input generator for the benchmark's sequence workloads.

Inputs are written with numpy + pyarrow, never with the engine under
test, and every expectation the correctness gate compares against is
computed here from the generator's own arrays and its record of the
corruptions it seeded. Each input is cached on disk under a key made
of (kind, seed, rows, GEN_VERSION); a manifest records rows, bytes
and files and is verified before every run.

Kinds:
- ``long``:  the fixture length mixture (75% 16-128 tokens, 25%
  512-2048) with the 13 seeded corruptions of FIXTURES.md §1 at
  seed-chosen rows. Read by validate_long and drift.
- ``dirty``: short arrays (8-64 tokens); ~1% row-check failures
  spread over every row-check class, ~2% duplicated doc_ids (half
  within the copied row's source, half across), ~0.5% unknown or NULL
  source. The source skew is kept.
- ``base``:  a clean ``long``-shaped table, the drift baseline.

Run as a script it generates one input into a new directory and prints
a one-line summary:
``python3 perfbench/gen.py --kind long --seed 1 --rows 2000 --out DIR``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
VOCAB = 50257
MAX_TOK = 8192
N_FILES = 16
LEN_BUCKET = 64            # drift spec: length histogram bucket width
ID_BUCKET = 1024           # drift spec: token-id histogram bucket width
ID_BUCKETS = (1 << 20) // ID_BUCKET + 1

# (name, cumulative weight out of 10000), the fixture's skewed mixture
SOURCES = [
    ("web", 5500), ("books", 7500), ("code", 8500), ("wiki", 9200),
    ("news", 9600), ("forum", 9800), ("legal", 9950), ("synthetic", 10000),
]
ALLOWED = {name for name, _ in SOURCES}
# fixed inputs shipped with the benchmark, verified against SHA256SUMS
STATIC = {"sf0.1": os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")}
KIND_CODE = {"long": 1, "dirty": 2, "base": 3}

# seeded corruption classes; each maps to the checks it must trip
ELEM_NEG, ELEM_BIG, ELEM_NULL, TOK_NULL, TOK_EMPTY, NTOK_OFF, NTOK_NEG, \
    NTOK_NULL, DOCID_BAD, SRC_BAD, SRC_NULL = range(1, 12)
ROW_CHECK_CLASSES = [ELEM_NEG, ELEM_BIG, ELEM_NULL, TOK_NULL, TOK_EMPTY,
                     NTOK_OFF, NTOK_NEG, NTOK_NULL, DOCID_BAD]


def _lengths(rng, n: int, short: tuple[int, int], long: tuple[int, int] | None,
             long_share: float) -> np.ndarray:
    lens = rng.integers(short[0], short[1] + 1, n)
    if long is not None:
        is_long = rng.random(n) < long_share
        lens[is_long] = rng.integers(long[0], long[1] + 1, int(is_long.sum()))
    return lens.astype(np.int64)


def _sources(rng, n: int) -> np.ndarray:
    u = rng.integers(0, 10000, n)
    cum = np.array([c for _, c in SOURCES])
    names = np.array([s for s, _ in SOURCES], dtype=object)
    return names[np.searchsorted(cum, u, side="right")]


def _plan(kind: str, seed: int, n: int):
    """Per-row scalar columns and the corruption record."""
    rng = np.random.default_rng([seed, GEN_VERSION, KIND_CODE[kind]])
    if kind == "dirty":
        lens = _lengths(rng, n, (8, 64), None, 0.0)
    else:
        lens = _lengths(rng, n, (16, 128), (512, 2048), 0.25)
    src = _sources(rng, n)
    cls = np.zeros(n, dtype=np.int8)
    dup_of = np.full(n, -1, dtype=np.int64)
    if kind == "long":
        # the 13 fixture corruptions: 10 single-row classes + one
        # duplicated doc_id held by three rows (within and across source)
        sites = rng.choice(n, 13, replace=False)
        for row, c in zip(sites[:10], [ELEM_NEG, ELEM_BIG, TOK_NULL, TOK_EMPTY,
                                       NTOK_OFF, NTOK_OFF, NTOK_NEG, DOCID_BAD,
                                       SRC_BAD, SRC_BAD]):
            cls[row] = c
        a, b, c = sites[10:]
        dup_of[b] = a
        src[b] = src[a]
        dup_of[c] = a
        src[c] = "books" if src[a] == "web" else "web"
    elif kind == "dirty":
        order = rng.permutation(n)
        k_row, k_src, k_dup = int(n * 0.01), int(n * 0.0025), int(n * 0.02)
        pos = 0
        for c, k in [(ROW_CHECK_CLASSES, k_row), ([SRC_BAD], k_src), ([SRC_NULL], k_src)]:
            rows = order[pos:pos + k]
            cls[rows] = np.array(c, dtype=np.int8)[np.arange(k) % len(c)]
            pos += k
        dups = order[pos:pos + k_dup]
        pos += k_dup
        # targets: rows that are neither duplicates nor malformed ids
        targets = order[pos:][rng.integers(0, n - pos, k_dup)]
        dup_of[dups] = targets
        same = rng.random(k_dup) < 0.5
        src[dups[same]] = src[targets[same]]
    return lens, src, cls, dup_of


def generate(kind: str, seed: int, n: int, out: str) -> dict:
    """Write ``n`` rows of ``kind`` at ``seed`` into directory ``out``
    (parquet parts + _manifest.json + _expect.json); return the
    manifest."""
    lens, src, cls, dup_of = _plan(kind, seed, n)
    lens = np.where(np.isin(cls, [TOK_NULL, TOK_EMPTY]), 0, lens)
    tok_valid = cls != TOK_NULL
    n_tok = lens.copy()
    n_tok[cls == NTOK_OFF] += 3
    n_tok[cls == NTOK_NEG] = -1
    ntok_valid = cls != NTOK_NULL
    src[cls == SRC_BAD] = "spam"
    src[cls == SRC_NULL] = None
    ids = np.array([f"doc{i:012d}" for i in range(n)], dtype=object)
    bad = np.nonzero(cls == DOCID_BAD)[0]
    ids[bad] = [f"DOC-{i:x}" for i in bad]
    has_dup = dup_of >= 0
    ids[has_dup] = ids[dup_of[has_dup]]

    os.makedirs(out)
    per_file = -(-n // N_FILES)
    files, id_hist, total_tokens = [], np.zeros(ID_BUCKETS, np.int64), 0
    for f in range(N_FILES):
        lo, hi = f * per_file, min(n, (f + 1) * per_file)
        if lo >= hi:
            break
        frng = np.random.default_rng([seed, GEN_VERSION, KIND_CODE[kind], f])
        flen = lens[lo:hi]
        offsets = np.zeros(hi - lo + 1, np.int64)
        np.cumsum(flen, out=offsets[1:])
        values = frng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
        elem_null = None
        fcls = cls[lo:hi]
        for c, val in ((ELEM_NEG, -7), (ELEM_BIG, 99999), (ELEM_NULL, None)):
            rows = np.nonzero(fcls == c)[0]
            if not len(rows):
                continue
            at = offsets[rows] + frng.integers(0, flen[rows])
            if val is None:
                elem_null = np.zeros(len(values), bool)
                elem_null[at] = True
            else:
                values[at] = val
        b = np.floor_divide(values[~elem_null] if elem_null is not None else values,
                            ID_BUCKET)
        id_hist += np.bincount(np.clip(b, 0, ID_BUCKETS - 1), minlength=ID_BUCKETS)
        total_tokens += len(values)
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)),
            pa.array(values, mask=elem_null),
            mask=pa.array(~tok_valid[lo:hi]))
        table = pa.table({
            "doc_id": pa.array(ids[lo:hi], pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(n_tok[lo:hi].astype(np.int32), mask=~ntok_valid[lo:hi]),
            "source": pa.array(src[lo:hi], pa.string()),
        })
        name = f"part-{f:05d}.parquet"
        pq.write_table(table, os.path.join(out, name))
        files.append({"name": name, "rows": hi - lo,
                      "bytes": os.path.getsize(os.path.join(out, name))})

    expect = _expectations(ids, lens, tok_valid, n_tok, ntok_valid, src, cls)
    expect["id_hist"] = [["_all", int(b), int(c)] for b, c in enumerate(id_hist) if c]
    manifest = {"kind": kind, "seed": seed, "rows": n, "version": GEN_VERSION,
                "tokens": total_tokens, "files": files,
                "bytes": sum(f["bytes"] for f in files)}
    with open(os.path.join(out, "_expect.json"), "w") as fh:
        json.dump(expect, fh)
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def _expectations(ids, lens, tok_valid, n_tok, ntok_valid, src, cls) -> dict:
    """Exact validation outcome of the sequence spec on these rows,
    from the declared SJOT semantics: a NULL column fails only its
    not-null check; consistency compares two non-NULL values; a NULL
    element fails the element range check unless the engine is told
    elements are non-null."""
    is_null_src = np.array([s is None for s in src])
    fails = {
        "doc_id_format": cls == DOCID_BAD,
        "tokens_not_null": ~tok_valid,
        "tokens_len_bounds": tok_valid & ((lens < 1) | (lens > MAX_TOK)),
        "tokens_element_range": np.isin(cls, [ELEM_NEG, ELEM_BIG, ELEM_NULL]),
        "n_tok_not_null": ~ntok_valid,
        "n_tok_range": ntok_valid & ((n_tok < 1) | (n_tok > MAX_TOK)),
        "source_not_null": is_null_src,
        "n_tok_consistency": ntok_valid & tok_valid & (n_tok != lens),
    }
    source_ref = is_null_src | np.array([s not in ALLOWED for s in src])
    viol: Counter = Counter()
    bad_keys: dict = defaultdict(set)
    for check, mask in fails.items():
        for row in np.nonzero(mask)[0]:
            viol[(ids[row], src[row], check)] += 1
            bad_keys[src[row]].add(ids[row])
    for row in np.nonzero(source_ref)[0]:
        viol[(ids[row], src[row], "source_ref")] += 1
    seen = Counter(ids.tolist())
    groups: dict = defaultdict(list)
    for key, s in zip(ids, src):
        if seen[key] > 1:
            groups[key].append(s)
    for key, srcs in groups.items():
        named = [s for s in srcs if s is not None]
        viol[(key, min(named) if named else None, "doc_id_unique")] += 1

    n_rows = Counter(src.tolist())
    n_viol: Counter = Counter()
    for (_, part, _), c in viol.items():
        n_viol[part] += c
    partitions = {}
    for part in set(n_rows) | set(n_viol):
        partitions[_pkey(part)] = [n_rows.get(part, 0), n_viol.get(part, 0),
                                   len(bad_keys.get(part, ()))]
    per_check = Counter()
    for (_, _, check), c in viol.items():
        per_check[check] += c

    len_hist = Counter(zip(src[tok_valid].tolist(),
                           (lens[tok_valid] // LEN_BUCKET).tolist()))
    return {
        "per_check": dict(per_check),
        "partitions": partitions,
        "violations": [[k, p, c, n] for (k, p, c), n in sorted(
            viol.items(), key=lambda kv: tuple(map(str, kv[0])))],
        "len_hist": [[g, b, c] for (g, b), c in sorted(
            len_hist.items(), key=lambda kv: (str(kv[0][0]), kv[0][1]))],
    }


def _pkey(part) -> str:
    """JSON object key for a partition value (NULL -> "\\u0000null")."""
    return "\0null" if part is None else part


def _verify(path: str) -> dict | None:
    """The cached input's manifest if every file it lists is present
    with the recorded size and row count, else None."""
    try:
        with open(os.path.join(path, "_manifest.json")) as fh:
            manifest = json.load(fh)
        for f in manifest["files"]:
            p = os.path.join(path, f["name"])
            if (os.path.getsize(p) != f["bytes"]
                    or pq.ParquetFile(p).metadata.num_rows != f["rows"]):
                return None
        if not os.path.exists(os.path.join(path, "_expect.json")):
            return None
        parts = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
        if parts != sorted(f["name"] for f in manifest["files"]):
            return None
        return manifest
    except (OSError, ValueError, KeyError):
        return None


def verify_static(kind: str) -> tuple[str, dict]:
    """Directory and manifest of a fixed input, after checking every
    file against the directory's SHA256SUMS."""
    path, files = STATIC[kind], []
    with open(os.path.join(path, "SHA256SUMS"), "rb") as fh:
        sums = fh.read()
    for line in sums.decode().splitlines():
        digest, name = line.split()
        p = os.path.join(path, name)
        with open(p, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise RuntimeError(f"{p} does not match its SHA-256 in SHA256SUMS")
        files.append({"name": name, "rows": pq.ParquetFile(p).metadata.num_rows,
                      "bytes": os.path.getsize(p)})
    return path, {"kind": kind, "seed": None, "rows": sum(f["rows"] for f in files),
                  "bytes": sum(f["bytes"] for f in files), "files": files,
                  "sha256": hashlib.sha256(sums).hexdigest()}


def ensure(cache_root: str, kind: str, seed: int, n: int, keep: int = 3) -> tuple[str, dict]:
    """Directory and manifest of a verified cached input, generating
    it in a child process first when missing or damaged. Keeps the
    ``keep`` most recently used inputs of each kind. Fixed inputs
    (``STATIC``) ignore the seed and are only verified."""
    if kind in STATIC:
        return verify_static(kind)
    path = os.path.join(cache_root, f"{kind}-s{seed}-n{n}-v{GEN_VERSION}")
    manifest = _verify(path)
    if manifest is None:
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        import subprocess
        subprocess.run([sys.executable, os.path.abspath(__file__), "--kind", kind,
                        "--seed", str(seed), "--rows", str(n), "--out", tmp],
                       check=True, stdout=subprocess.DEVNULL)
        os.rename(tmp, path)
        manifest = _verify(path)
        if manifest is None:
            raise RuntimeError(f"generated input {path} fails its manifest")
    os.utime(path)
    others = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)
                     if d.startswith(kind + "-") and not d.endswith(".tmp")),
                    key=os.path.getmtime, reverse=True)
    for old in others[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    return path, manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=["long", "dirty", "base"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t0 = time.perf_counter()
    m = generate(a.kind, a.seed, a.rows, a.out)
    print(json.dumps({"out": a.out, "rows": m["rows"], "bytes": m["bytes"],
                      "gen_s": round(time.perf_counter() - t0, 3)}))


if __name__ == "__main__":
    main()
