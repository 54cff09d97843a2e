"""The three workloads, driven through the package's public entry points.

Each workload runs whole passes in a closed loop (one client; every
call waits for the previous one):

* ``bi_dashboard`` -- one pass is a dashboard refresh: the 10 reference
  queries plus ``analytics_mart`` and ``analytics_segmentation``, in a
  seed-shuffled order, each built from ``plans.queries.QUERIES`` and
  delivered to the client process as a pandas frame (Arrow), then checked
  against its DuckDB oracle. Read-only and bound by plan construction
  and job count.
* ``warehouse_load`` -- one pass builds the warehouse twice into fresh
  directories (calendar and category dimensions, the order-line fact
  with its quality split, the SCD2 customer dimension), then applies the
  seed's change files as micro-batches through ``streaming.sinks``:
  customer attribute changes into an SCD2 stream, order-status changes
  into an upsert stream. The only workload that writes and commits. Its
  warm-up is the initial build and a small upsert stream.
* ``corpus_pipeline`` -- one pass runs four corpus stages over a
  key-shifted enlargement of ``documents`` and ``embeddings``. Trained
  centroids and other memoized build-time artifacts are warm after the
  warm-up, so a change that speeds only cold training shows in
  ``setup_s``, not in the pass time.

The star schema every workload reads is the fixed test data under
``data/``; the seed shapes the tile order, the corpus enlargement and
the change feeds (see ``gen.py``).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from collections import defaultdict
from statistics import median

import gen
from check import cached, digest, oracle_digests

_SHARED = os.path.join(gen.HERE, ".work", "expected")  # per input, across seeds

TILES = [
    "q1a_yoy_growth",
    "q1b_seasonal_index",
    "q2a_grouping_sets",
    "q2b_rollup",
    "q3a_rank_ntile",
    "q3b_moving_cumulative",
    "q4a_multi_exists",
    "q4b_above_category_avg",
    "q5a_ltv_top20",
    "q5b_monthly_kpis",
    "analytics_mart",
    "analytics_segmentation",
]
STAGES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_ann_ivf_trained",
    "sim_ann_ivf_serving",
]


class Ctx:
    """Everything one run shares: session, inputs, tracer, outcomes and
    the per-layer accumulators of traced passes."""

    def __init__(self, spark, inputs_dir, manifest, seed, work, tracer, stores, outcomes):
        self.spark = spark
        self.inputs_dir = inputs_dir
        star = os.path.join(inputs_dir, "star")
        self.star = star if os.path.isdir(star) else gen.STAR
        self.manifest = manifest
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.stores = stores  # StatusStores when tracing, else None
        self.outcomes = outcomes
        self.layer: dict[str, float] = defaultdict(float)
        self.per_op: dict[str, list[float]] = defaultdict(list)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def add_counters(self, counters: dict[str, float]) -> None:
        for k, v in counters.items():
            self.layer[f"spark.{k}"] += v


class PassResult:
    def __init__(self, wall, op_latencies, rows, rows_wall, wall_total=None, complete=True):
        self.wall = wall  # the pass time reported as pass_s
        self.op_latencies = op_latencies
        self.rows = rows  # rows counted by rows_per_s
        self.rows_wall = rows_wall  # the wall those rows took
        self.wall_total = wall if wall_total is None else wall_total  # the whole pass
        self.complete = complete  # False when the run's time ran out mid-pass


def query_op(ctx: Ctx, name: str, want: str) -> tuple[float, int] | None:
    """Build, execute and deliver one registry query; check its result.
    Returns (latency_s, result_rows), or None when it raised."""
    from business_intelligence_and_data_warehouse_spark.plans import QUERIES

    tr = ctx.tracer
    with tr.span(name, "op") as op:
        t0 = time.perf_counter()
        try:
            with tr.span("build", "build", job_group=True) as b:
                df = QUERIES[name](ctx.spark, ctx.star)
            t1 = time.perf_counter()
            with tr.span("exec", "exec", job_group=True) as x:
                pdf = df.toPandas()
        except Exception as exc:  # counted as failed; the loop goes on
            ctx.outcomes.raised(name, exc)
            return None
        t2 = time.perf_counter()
    ctx.outcomes.record(name, digest(pdf), want)
    if ctx.traced:
        _attribute_query(ctx, name, op, b, x, t1 - t0, t2 - t1, len(pdf))
    return t2 - t0, len(pdf)


def _attribute_query(ctx, name, op, b, x, build_s, exec_s, rows) -> None:
    st, tr = ctx.stores, ctx.tracer
    counters = st.group_counters([tr.group_of(b), tr.group_of(x)])
    ctx.add_counters(counters)
    build_jobs = len(st.job_ids(tr.group_of(b)))
    end_ms = st.last_job_end_ms(st.job_ids(tr.group_of(x)))
    if end_ms is not None and x["start"] < end_ms / 1e3 < x["end"]:
        tr.child(x, "delivery", "delivery", end_ms / 1e3, x["end"])
    ctx.layer["plans.build_s"] += build_s
    ctx.layer["plans.build_jobs"] += build_jobs
    ctx.layer["plans.exec_s"] += exec_s
    ctx.layer["plans.result_rows"] += rows
    ctx.per_op[f"plans.build_s.{name}"].append(build_s)
    ctx.per_op[f"plans.exec_s.{name}"].append(exec_s)
    ctx.per_op[f"plans.result_rows.{name}"].append(rows)


class QueryWorkload:
    """A pass is a list of registry queries, each checked against its
    DuckDB oracle."""

    ops: list[str]
    warmup_passes = 1

    def prepare(self, ctx: Ctx) -> None:
        """Expected digests, cached per content of the input they read."""
        from business_intelligence_and_data_warehouse_spark.plans import ORACLES

        self.expected = {}
        for key, ops in self.oracle_groups(ctx).items():
            path = os.path.join(_SHARED, f"{self.name}-{key}.json")
            self.expected.update(cached(path, lambda: oracle_digests(ctx.star, ops, ORACLES)))

    def oracle_groups(self, ctx: Ctx) -> dict[str, list[str]]:
        return {_star_key(): self.ops}

    def order(self, ctx: Ctx, index: int) -> list[str]:
        return list(self.ops)

    def run_pass(self, ctx: Ctx, index: int, deadline: float = float("inf")) -> PassResult:
        """One pass; no operation starts after ``deadline``, so the run's
        measured time, not its pass count, is fixed."""
        lat = []
        t0 = time.perf_counter()
        with ctx.tracer.span(f"pass{index}", "pass"):
            for name in self.order(ctx, index):
                if time.perf_counter() >= deadline:
                    break
                r = query_op(ctx, name, self.expected[name])
                if r is not None:
                    lat.append((name, r[0]))
        wall = time.perf_counter() - t0
        complete = len(lat) == len(self.ops)
        return PassResult(wall, lat, self.input_rows(ctx), wall, complete=complete)

    def input_rows(self, ctx: Ctx) -> float:
        """Input rows one pass covers (fixed by the inputs' scale)."""
        return sum(ctx.manifest["rows"][t] for t in self.input_tables)

    def finish(self, ctx: Ctx) -> None:
        pass


def _star_key() -> str:
    """Short digest of the fixed star schema's recorded checksums."""
    return _file_key(os.path.join(gen.STAR, "SHA256SUMS"))


def _file_key(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


class BiDashboard(QueryWorkload):
    name = "bi_dashboard"
    spec: dict = {}
    ops = TILES
    input_tables = ("lineitem", "orders")
    names = {"op_p50_s": "query_p50_s", "pass_s": "refresh_s", "rows_per_s": "fact_rows_per_s"}

    def order(self, ctx: Ctx, index: int) -> list[str]:
        return random.Random(f"{ctx.seed}:{index}").sample(self.ops, len(self.ops))


class CorpusPipeline(QueryWorkload):
    name = "corpus_pipeline"
    spec = {"copies": 2}  # 1,000 documents and 1,000 vectors
    ops = STAGES
    input_tables = ("documents",)
    names = {"op_p50_s": "stage_p50_s", "pass_s": "corpus_pass_s", "rows_per_s": "docs_per_s"}

    def oracle_groups(self, ctx: Ctx) -> dict[str, list[str]]:
        # the dedup stages read the seeded documents; the ANN stages read
        # embeddings, which are the same for every seed
        return {
            f"documents-{_file_key(os.path.join(ctx.star, 'documents.parquet'))}": STAGES[:2],
            f"embeddings-{_file_key(os.path.join(ctx.star, 'embeddings.parquet'))}": STAGES[2:],
        }


# --------------------------------------------------------------------------
# warehouse_load
# --------------------------------------------------------------------------

_CHANGES = {"n_files": 1, "periods_per_file": 2, "rows_per_period": 60}
# a measured pass builds the warehouse twice and reports the median build
# time: one 3 s build per run spread 0.26 (IQR/median) over ten runs
_MEASURED_BUILDS = 2
# the warm-up pass streams only order upserts, from a small feed that is
# the same for every seed
_WARMUP_CHANGES = {"n_files": 1, "periods_per_file": 1, "rows_per_period": 10}
_TRACKED = ["c_mktsegment", "c_nationkey"]
_HIGH = "2099-12-31"


def _quality_rules():
    from pyspark.sql import functions as F

    return {
        "price_positive": F.col("price") > 0,
        "quantity_range": F.col("quantity").between(1, 50),
        "has_time_key": F.col("time_key").isNotNull(),
        "discount_policy": F.col("discount_value") <= F.col("price") * 0.085,
    }


class _BatchClock:
    """Progress of every streaming micro-batch, from Spark's own
    ``StreamingQueryListener`` events: ``triggerExecution`` is the batch
    from trigger to commit, ``addBatch`` the sink call inside it."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        clock = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    clock.progress.append((str(p.runId), dict(p.durationMs), p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[tuple[str, dict, int]] = []
        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def wait_for(self, n: int, timeout: float = 10.0) -> list[tuple[str, dict, int]]:
        """The first ``n`` batches, waiting for late listener events."""
        deadline = time.monotonic() + timeout
        while len(self.progress) < n and time.monotonic() < deadline:
            time.sleep(0.02)
        got, self.progress = self.progress[:n], self.progress[n:]
        return got

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class WarehouseLoad:
    name = "warehouse_load"
    warmup_passes = 1
    spec = {"changes": _CHANGES}
    names = {"op_p50_s": "batch_p50_s", "pass_s": "initial_load_s", "rows_per_s": "change_rows_per_s"}

    clock = None

    def prepare(self, ctx: Ctx) -> None:
        # the warm-up feed is the same for every seed (written once, under
        # seed 0's name); only its upsert files are streamed
        warmup_dir, _ = gen.materialize(os.path.dirname(ctx.inputs_dir), 0,
                                        {"changes": _WARMUP_CHANGES, "stream": "warmup"})
        self.feeds = {"measured": _Feed(ctx, ctx.inputs_dir, _CHANGES),
                      "warmup": _Feed(ctx, warmup_dir, _WARMUP_CHANGES, scd2=False)}
        self.expected = cached(os.path.join(_SHARED, f"{self.name}-{_star_key()}.json"),
                               _duckdb_expected)
        self.expected.update(self.feeds["measured"].stream_expected())

    def run_pass(self, ctx: Ctx, index: int, deadline: float = float("inf")) -> PassResult:
        if self.clock is None:
            self.clock = _BatchClock(ctx.spark)
        warmup = index < self.warmup_passes
        feed = self.feeds["warmup" if warmup else "measured"]
        out = os.path.join(ctx.work, f"wh{index}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tr = ctx.tracer
        self.groups: list[str] = []  # job groups of the traced initial build
        builds, initial = [], []
        t0 = time.perf_counter()
        with tr.span(f"pass{index}", "pass"):
            for b in range(1 if warmup else _MEASURED_BUILDS):
                tb = time.perf_counter()
                with tr.span("initial_load", "phase"):
                    builds.append(self._initial_load(ctx, f"p{index}b{b}", out))
                initial.append(time.perf_counter() - tb)
            t1 = time.perf_counter()
            with tr.span("incremental", "phase"):
                scd_df, ups_df = self._incremental(ctx, feed, out)
            incremental = time.perf_counter() - t1
        batches = self.clock.wait_for(feed.n_batches)
        if ctx.traced:
            self._attribute_streams(ctx, feed, batches)
        wall_total = time.perf_counter() - t0
        if not warmup:
            for written in builds:
                self._check_build(ctx, written)
            self._check_streams(ctx, feed, scd_df, ups_df)
        for written in builds:
            for t in ("dim_time", "dim_category", "dim_customer"):
                ctx.spark.sql(f"DROP TABLE IF EXISTS {written[t]}")
        shutil.rmtree(out, ignore_errors=True)
        lat = [(f"batch{i}", d.get("triggerExecution", 0) / 1e3)
               for i, (_, d, _) in enumerate(batches)]
        if len(batches) != feed.n_batches:
            ctx.outcomes.raised("micro-batches", RuntimeError(
                f"saw {len(batches)} progress events, expected {feed.n_batches}"
            ))
        return PassResult(median(initial), lat, feed.change_rows, incremental, wall_total)

    def _initial_load(self, ctx: Ctx, tag: str, out: str) -> dict:
        from business_intelligence_and_data_warehouse_spark.etl.dims import (
            build_dim_category,
            build_dim_time,
        )
        from business_intelligence_and_data_warehouse_spark.etl.facts import (
            build_fact_order_lines,
            write_fact,
        )
        from business_intelligence_and_data_warehouse_spark.etl.quality import (
            split_quality,
            write_quarantine,
        )
        from business_intelligence_and_data_warehouse_spark.operators.scd import scd2_initial_load
        from business_intelligence_and_data_warehouse_spark.sources.testdata import load_table
        from business_intelligence_and_data_warehouse_spark.sources.warehouse import write_table

        spark, tr, lay = ctx.spark, ctx.tracer, ctx.layer
        tables = {k: f"{k}_{tag}" for k in ("dim_time", "dim_category", "dim_customer")}
        paths = {"fact": os.path.join(out, tag, "fact_order_lines"),
                 "quarantine": os.path.join(out, tag, "fact_quarantine")}

        def timed(key, fn, job_group=True):
            t = time.perf_counter()
            with tr.span(key, "layer", job_group=job_group) as sp:
                fn()
            if ctx.traced:
                lay[key] += time.perf_counter() - t
                if job_group:
                    self.groups.append(tr.group_of(sp))

        def write(fn, *args):
            # nested in an etl span, whose job group it keeps
            timed("sources.write_s", lambda: fn(*args), job_group=False)

        timed("etl.dim_time_s", lambda: write(write_table, build_dim_time(spark), tables["dim_time"]))
        timed("etl.dim_category_s", lambda: write(
            write_table,
            build_dim_category(load_table(spark, ctx.star, "part"), "p_brand"),
            tables["dim_category"],
        ))
        fact = {}

        def fact_and_split():
            fact["clean"], fact["bad"] = split_quality(
                build_fact_order_lines(spark, ctx.star), _quality_rules()
            )
            write(write_fact, fact["clean"], paths["fact"])

        timed("etl.fact_order_lines_s", fact_and_split)
        timed("etl.quality_split_s", lambda: write(write_quarantine, fact["bad"], paths["quarantine"]))
        customers = load_table(spark, ctx.star, "customer").select("c_custkey", *_TRACKED)
        timed("operators.scd.initial_load_s", lambda: write(
            write_table, scd2_initial_load(customers), tables["dim_customer"]
        ))
        return {**tables, **paths}

    def _incremental(self, ctx: Ctx, feed: "_Feed", out: str):
        from business_intelligence_and_data_warehouse_spark.streaming import sinks

        spark = ctx.spark
        handler: list[float] = []
        if ctx.traced:
            sinks.BATCH_OBSERVER = lambda batch_id, wall, rows: handler.append(wall)
        try:
            scd_src = os.path.join(feed.root, "scd2")
            ups_src = os.path.join(feed.root, "upsert")
            scd_pdf = None
            if feed.scd2:
                with ctx.tracer.span("streaming.scd2", "layer"):
                    scd = sinks.run_scd2_stream(
                        _file_stream(spark, scd_src), spark, ["c_custkey"], _TRACKED,
                        "load_date", "seq", os.path.join(out, "scd2"),
                    )
                    scd_pdf = scd.toPandas()
            with ctx.tracer.span("streaming.upsert", "layer"):
                ups = sinks.run_upsert_stream(
                    _file_stream(spark, ups_src), spark, ["o_orderkey"], "seq",
                    os.path.join(out, "upsert"),
                )
                ups_pdf = ups.toPandas()
        finally:
            sinks.BATCH_OBSERVER = None
        if ctx.traced:
            ctx.per_op["streaming.handler_s"].extend(handler)
        return scd_pdf, ups_pdf

    def _check_build(self, ctx: Ctx, written: dict) -> None:
        spark, oc, want = ctx.spark, ctx.outcomes, self.expected
        oc.record("dim_time", str(spark.table(written["dim_time"]).count()), want["dim_time"])
        oc.record("dim_category", digest(spark.table(written["dim_category"]).toPandas()),
                  want["dim_category"])
        oc.record("dim_customer_initial", digest(spark.table(written["dim_customer"]).toPandas()),
                  want["dim_customer"])
        clean = spark.read.parquet(written["fact"]).count()
        bad = spark.read.option("header", True).csv(written["quarantine"]).count()
        oc.record("fact_quality_split", f"{clean}/{bad}", want["fact_split"])
        if ctx.traced:
            ctx.layer["etl.quarantined_rows"] += bad
            files = [os.path.join(d, f) for p in (written["fact"], written["quarantine"])
                     for d, _, fs in os.walk(p) for f in fs if not f.startswith((".", "_"))]
            wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            files += [os.path.join(d, f) for t in ("dim_time", "dim_category", "dim_customer")
                      for d, _, fs in os.walk(os.path.join(wh, written[t]))
                      for f in fs if not f.startswith((".", "_"))]
            ctx.layer["sources.files_written"] += len(files)
            ctx.layer["sources.bytes_written"] += sum(os.path.getsize(f) for f in files)

    def _check_streams(self, ctx: Ctx, feed: "_Feed", scd_pdf, ups_pdf) -> None:
        oc, want = ctx.outcomes, self.expected
        oc.record("upsert_snapshot", digest(ups_pdf), want["upsert"])
        oc.record("scd2_stream", digest(scd_pdf), want["scd2"])
        if ctx.traced:
            closed = int((scd_pdf["effective_to"].astype(str) != _HIGH).sum())
            ctx.layer["operators.scd.versions_closed"] += closed
            ctx.layer["operators.scd.change_rows"] += feed.scd_changes

    def _attribute_streams(self, ctx: Ctx, feed: "_Feed", batches) -> None:
        """Engine counters of the pass: the initial build's job groups,
        and the streaming queries', whose jobs Spark groups by run id."""
        run_ids = sorted({r for r, _, _ in batches})
        ctx.add_counters(ctx.stores.group_counters(self.groups))
        counters = ctx.stores.group_counters(run_ids)
        ctx.add_counters(counters)
        ctx.layer["streaming.store_bytes"] += counters["output_bytes"]
        ctx.layer["streaming.change_bytes"] += feed.change_bytes
        for _, d, _ in batches:
            ctx.per_op["streaming.batch_overhead_s"].append(
                (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3
            )

    def finish(self, ctx: Ctx) -> None:
        self.clock.close()


class _Feed:
    """One change feed: its files, size and batch count, and the expected
    stream results, cached next to the files."""

    def __init__(self, ctx: Ctx, root: str, changes: dict, scd2: bool = True):
        self.root = root
        self.scd2 = scd2  # False: stream only the order upserts
        m = changes["n_files"] * changes["periods_per_file"] * changes["rows_per_period"]
        self.scd_changes = m if scd2 else 0
        # the SCD2 stream has one more file: the initial customer dimension
        self.n_batches = changes["n_files"] + (changes["n_files"] + 1 if scd2 else 0)
        # rows applied by both streams: the initial dimension, then the
        # customer changes and as many order changes
        self.change_rows = m + (ctx.manifest["rows"]["customer"] + m if scd2 else 0)
        self.change_bytes = sum(
            os.path.getsize(os.path.join(root, d, f))
            for d in (("scd2", "upsert") if scd2 else ("upsert",))
            for f in os.listdir(os.path.join(root, d))
        )

    def stream_expected(self) -> dict[str, str]:
        """Digests of the final upsert snapshot and SCD2 dimension, from
        DuckDB over the feed's files."""
        def compute():
            import duckdb

            con = duckdb.connect()
            try:
                return {
                    "upsert": digest(con.execute(_UPSERT_SQL.format(root=self.root)).df()),
                    "scd2": digest(con.execute(_SCD2_SQL.format(root=self.root)).df()),
                }
            finally:
                con.close()

        return cached(os.path.join(self.root, "expected_streams.json"), compute)


# the last state per order key
_UPSERT_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, seq
FROM read_parquet('{root}/upsert/*.parquet')
QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1
"""

# The SCD2 dimension after applying the load periods in order, with the
# rules of operators.scd.scd2_merge: each key's last change (by seq) in a
# period; a change to the tracked attributes closes the open version at
# the period's date and opens version + 1 from it; an unchanged row is a
# no-op. (scd2_merge's same-day correction cannot arise: a key has one
# row per period.)
_SCD2_SQL = f"""
WITH last_per_period AS (
    SELECT c_custkey, c_mktsegment, c_nationkey, load_date
    FROM read_parquet('{{root}}/scd2/*.parquet')
    QUALIFY row_number() OVER (PARTITION BY c_custkey, load_date ORDER BY seq DESC) = 1
), opened AS (
    SELECT c_custkey, c_mktsegment, c_nationkey, load_date AS effective_from
    FROM last_per_period
    WINDOW w AS (PARTITION BY c_custkey ORDER BY load_date)
    QUALIFY lag(load_date) OVER w IS NULL
         OR lag(c_mktsegment) OVER w IS DISTINCT FROM c_mktsegment
         OR lag(c_nationkey) OVER w IS DISTINCT FROM c_nationkey
)
SELECT c_custkey, c_mktsegment, c_nationkey, effective_from,
       coalesce(lead(effective_from) OVER w, DATE '{_HIGH}') AS effective_to,
       CAST(row_number() OVER w AS INTEGER) AS version
FROM opened
WINDOW w AS (PARTITION BY c_custkey ORDER BY effective_from)
"""


def _file_stream(spark, src: str):
    """One change file per micro-batch, in file order."""
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


def _duckdb_expected() -> dict:
    """Expected initial-build outputs, from DuckDB over the star schema."""
    import duckdb

    star = gen.STAR
    con = duckdb.connect()
    try:
        q = con.execute
        dim_time = q("SELECT COUNT(*) FROM range(DATE '2016-01-01', DATE '2021-01-01', "
                     "INTERVAL 1 DAY)").fetchone()[0]
        cat = q(f"""SELECT CAST(row_number() OVER (ORDER BY category_name) AS INTEGER)
                       AS category_key, category_name
                FROM (SELECT DISTINCT trim(p_brand) AS category_name
                      FROM read_parquet('{star}/part.parquet'))""").df()
        cust = q(f"""SELECT c_custkey, c_mktsegment, c_nationkey,
                        DATE '2016-01-01' AS effective_from,
                        DATE '{_HIGH}' AS effective_to, 1 AS version
                 FROM read_parquet('{star}/customer.parquet')""").df()
        clean, bad = q(f"""SELECT COUNT(*) FILTER (WHERE l_discount <= 0.085e0),
                                  COUNT(*) FILTER (WHERE l_discount > 0.085e0)
                           FROM read_parquet('{star}/lineitem.parquet') l
                           JOIN read_parquet('{star}/orders.parquet') o
                             ON l_orderkey = o_orderkey""").fetchone()
        return {
            "dim_time": str(dim_time),
            "dim_category": digest(cat),
            "dim_customer": digest(cust),
            "fact_split": f"{clean}/{bad}",
        }
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (BiDashboard, WarehouseLoad, CorpusPipeline)}


def summarize(passes: list[PassResult]) -> dict[str, float]:
    """End-to-end metrics. ``op_p50_s`` is the median over operations of
    each operation's median latency, so a partial last pass (which runs
    a seed-dependent subset of operations) weighs no operation twice;
    pass metrics come from complete passes."""
    per_op = defaultdict(list)
    for p in passes:
        for name, seconds in p.op_latencies:
            per_op[name].append(seconds)
    whole = [p for p in passes if p.complete]
    return {
        "op_p50_s": median(median(v) for v in per_op.values()),
        "pass_s": median(p.wall for p in whole),
        "rows_per_s": sum(p.rows for p in whole) / sum(p.rows_wall for p in whole),
    }
