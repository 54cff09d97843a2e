"""Benchmark inputs: the fixed star schema and the seeded parts.

The star schema is not generated. ``data/sf0.01`` is a byte-for-byte
copy of the repository's seed-42 test data at scale factor 0.01 (the
tables the DuckDB oracle tests run on, see TESTDATA.md), checked
against ``data/sf0.01/SHA256SUMS`` before every run. The workload seed
fixes only what varies between runs:

* ``enlarge``: the key-shifted copy construction of the scale-ramp
  audit applied to ``documents`` and ``embeddings``. Copy 0 is the test
  data itself; every later copy gets a seed-derived token suffix and an
  orthogonal transform of its vectors (a coordinate permutation plus
  sign flips), so near-duplicate and neighbour structure repeats once
  per copy and output grows linearly. The vector transform is the same
  for every seed: the exact-kNN oracles of the ANN stages cost seconds
  in DuckDB, and a seed-independent ``embeddings`` lets them be computed
  once per checkout instead of once per run;
* ``change_files``: the warehouse incremental feed -- one parquet file
  per micro-batch, each spanning several load periods, for customer
  SCD2 attribute changes and order-status upserts. (The warm-up feed is
  a smaller one, the same for every seed.)

(The tile order of a dashboard refresh also follows the seed; see
``workloads.BiDashboard.order``.) Seeded inputs are written once per
(workload, seed) under the benchmark's work directory and reused by
every later run with that seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
STAR = os.path.join(HERE, "data", "sf0.01")

_KEY_STEP = 100_000_000  # per-copy key offset, far above any base key
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

INITIAL_LOAD = dt.date(2016, 1, 1)  # effective_from of the initial dimension
CHANGE_T0 = dt.date(2017, 1, 2)  # first incremental load period
_CHANGE_MTIME0 = 1_700_000_000  # change file i gets this mtime + i seconds


def _rng(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, name): adding a stream never shifts
    the values of another."""
    digest = hashlib.sha256(f"{seed}/{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def verify_star(star_dir: str = STAR) -> None:
    """Raise unless every table matches its recorded sha256."""
    with open(os.path.join(star_dir, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(star_dir, name), "rb") as t:
                got = hashlib.sha256(t.read()).hexdigest()
            if got != want:
                raise RuntimeError(f"{star_dir}/{name}: sha256 {got} != recorded {want}")


def read_star(names, star_dir: str = STAR) -> dict[str, pa.Table]:
    return {n: pq.read_table(os.path.join(star_dir, f"{n}.parquet")) for n in names}


def enlarge(seed: int, tables: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """``copies`` key-shifted copies of ``documents`` and ``embeddings``.

    Copy c > 0 suffixes every token with a seed-derived tag (disjoint
    shingle vocabularies, so no cross-copy near-duplicates) and applies
    an orthogonal transform to every vector -- a coordinate permutation
    plus per-coordinate sign flips, fixed per copy -- which keeps every
    intra-copy cosine and decorrelates copies.
    """
    docs, emb = tables["documents"], tables["embeddings"]
    d_parts, e_parts = [docs], [emb]
    base_vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    dim = base_vecs.shape[1]
    base_texts = docs.column("text").to_pylist()
    for c in range(1, copies):
        tag = "".join(chr(ord("a") + i) for i in _rng(seed, f"tag{c}").integers(0, 26, 6))
        texts = [" ".join(f"{w}_{tag}" for w in t.split()) for t in base_texts]
        d_parts.append(docs.set_column(
            0, "doc_id", pc.add(docs.column("doc_id"), c * _KEY_STEP)
        ).set_column(1, "text", pa.array(texts)).set_column(
            4, "n_chars", pa.array([len(t) for t in texts], pa.int64())
        ))
        r = _rng(0, f"vectors{c}")
        signs = np.where(r.random(dim) < 0.5, -1.0, 1.0)
        vecs = (base_vecs[:, r.permutation(dim)] * signs).astype(np.float32)
        e_parts.append(emb.set_column(
            0, "vec_id", pc.add(emb.column("vec_id"), c * _KEY_STEP)
        ).set_column(1, "embedding", pa.array(list(vecs), pa.list_(pa.float32()))))
    return {"documents": pa.concat_tables(d_parts), "embeddings": pa.concat_tables(e_parts)}


def change_files(
    seed: int,
    tables: dict[str, pa.Table],
    n_files: int,
    periods_per_file: int,
    rows_per_period: int,
    stream: str = "changes",
) -> tuple[list[pa.Table], list[pa.Table]]:
    """Incremental feed: (customer SCD2 change files, order upsert files).

    The SCD2 feed starts with one file holding every customer at the
    initial load date, then ``n_files`` change files. Customer rows
    carry ``load_date`` (the load period) and ``seq`` (the intra-period
    order); about a quarter repeat the key's attributes unchanged, so
    not every change row closes a version. Order rows
    carry a globally increasing ``seq`` as the last-state order key.
    Periods increase across files, so every key's periods arrive in
    order.
    """
    r = _rng(seed, stream)
    cust, orders = tables["customer"], tables["orders"]
    n_cust = cust.num_rows
    cust_keys = cust.column("c_custkey").to_numpy()
    order_keys = orders.column("o_orderkey").to_numpy()
    seg = np.array(_SEGMENTS)
    cur_seg = cust.column("c_mktsegment").to_numpy(zero_copy_only=False).copy()
    cur_nat = cust.column("c_nationkey").to_numpy().copy()
    # the first SCD2 file is the initial customer dimension, so the later
    # change files update existing versions
    scd_files = [pa.table({
        "c_custkey": cust.column("c_custkey"),
        "c_mktsegment": cust.column("c_mktsegment"),
        "c_nationkey": cust.column("c_nationkey"),
        "load_date": pa.array([INITIAL_LOAD] * n_cust, pa.date32()),
        "seq": pa.array(range(1, n_cust + 1), pa.int64()),
    })]
    ups_files = []
    seq = n_cust
    for f in range(n_files):
        cols: dict[str, list] = {k: [] for k in
                                 ("c_custkey", "c_mktsegment", "c_nationkey",
                                  "load_date", "seq")}
        for p in range(periods_per_file):
            day = CHANGE_T0 + dt.timedelta(days=f * periods_per_file + p)
            rows = r.choice(n_cust, rows_per_period, replace=False)
            changed = r.random(rows_per_period) >= 0.25
            for i, ch in zip(rows, changed):
                if ch:
                    cur_seg[i] = seg[r.integers(0, 5)]
                    cur_nat[i] = int(r.integers(0, 25))
                seq += 1
                cols["c_custkey"].append(int(cust_keys[i]))
                cols["c_mktsegment"].append(str(cur_seg[i]))
                cols["c_nationkey"].append(int(cur_nat[i]))
                cols["load_date"].append(day)
                cols["seq"].append(seq)
        scd_files.append(pa.table({
            "c_custkey": pa.array(cols["c_custkey"], pa.int64()),
            "c_mktsegment": pa.array(cols["c_mktsegment"]),
            "c_nationkey": pa.array(cols["c_nationkey"], pa.int32()),
            "load_date": pa.array(cols["load_date"], pa.date32()),
            "seq": pa.array(cols["seq"], pa.int64()),
        }))
        m = rows_per_period * periods_per_file
        ups_files.append(pa.table({
            "o_orderkey": order_keys[r.integers(0, order_keys.size, m)],
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, m)],
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, m), 2),
            "seq": np.arange(seq + 1, seq + 1 + m, dtype=np.int64),
        }))
        seq += m
    return scd_files, ups_files


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def digest_dir(root: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "MANIFEST.json":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_feed(out: str, seed: int, tables: dict, changes: dict, stream: str) -> None:
    scd, ups = change_files(seed, tables, **changes, stream=stream)
    for sub, files in (("scd2", scd), ("upsert", ups)):
        os.makedirs(os.path.join(out, sub))
        for i, t in enumerate(files):
            path = os.path.join(out, sub, f"part-{i:04d}.parquet")
            _write(t, path)
            # a file stream takes files in modification-time order
            os.utime(path, (_CHANGE_MTIME0 + i, _CHANGE_MTIME0 + i))


def materialize(root: str, seed: int, spec: dict) -> tuple[str, dict]:
    """Write the seeded inputs described by ``spec`` once; returns
    (directory, manifest). A later call with the same seed and spec
    reuses the directory.

    ``spec["copies"]`` writes ``star/`` -- the test data with an enlarged
    ``documents`` and ``embeddings``; ``spec["changes"]`` writes a change
    feed from the random stream ``spec.get("stream", "changes")``.
    Without copies the workload reads the star schema from ``data/``
    directly.
    """
    key = hashlib.sha256(json.dumps([seed, spec], sort_keys=True).encode())
    out = os.path.join(root, f"s{seed}-{key.hexdigest()[:12]}")
    manifest_path = os.path.join(out, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return out, json.load(fh)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = read_star(("customer", "orders", "documents", "embeddings"))
    rows = {name[:-8]: pq.ParquetFile(os.path.join(STAR, name)).metadata.num_rows
            for name in sorted(os.listdir(STAR)) if name.endswith(".parquet")}
    if "copies" in spec:
        star_dir = os.path.join(tmp, "star")
        os.makedirs(star_dir)
        big = enlarge(seed, tables, spec["copies"])
        for name, t in big.items():
            _write(t, os.path.join(star_dir, f"{name}.parquet"))
            rows[name] = t.num_rows
        for name in os.listdir(STAR):
            if name.endswith(".parquet") and name[:-8] not in big:
                shutil.copyfile(os.path.join(STAR, name), os.path.join(star_dir, name))
    if "changes" in spec:
        _write_feed(tmp, seed, tables, spec["changes"], spec.get("stream", "changes"))
    manifest = {"seed": seed, "spec": spec, "rows": rows, "digest": digest_dir(tmp)}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    try:
        os.rename(tmp, out)
    except OSError:  # another run with the same seed finished first
        shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest_path) as fh:
        return out, json.load(fh)
