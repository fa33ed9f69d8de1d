"""The two workloads: what each builds as input, what one pass runs, and
how its outputs are checked.

- query_serving: 7 star-schema and event-stream queries and two dedup
  lattices' queries over the corpus; a traced pass also replays two
  dedup lattices stage by stage.
- etl_lakehouse: one warehouse load from generated CSVs, then a
  versioned-table cycle (appends, upserts, a delete, a compaction) with
  reads in between.

Every call into the engine goes through its public functions; spans are
opened around those calls here, never inside the engine.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

from perfbench.checks import TABLES, Fingerprint, spark_fingerprint
from perfbench.runner import Sample

#: star-schema questions (a star join over role-playing dimensions,
#: monthly aggregates, TPC-H join shapes) and event-stream operators
#: (window rank, sessions, as-of join).  Frozen here: this workload must
#: not follow bench.py's tiers.  Kept to seven so a run, with its cold
#: check pass, stays within the benchmark's time budget.
STAR_QUERIES = [
    "q_star_join", "q_agg_monthly", "q_tpch_q3", "q_tpch_q18",
    "q_window_rank", "q_sessionize", "q_asof_join",
]

#: one query per dedup lattice: portable MinHash -> verify -> pointer-
#: jumping CC -> apply; the xxhash64 MinHash engine.  Prefix-filtered
#: exact Jaccard and two-star CC run in the traced replay only.
DEDUP_QUERIES = ["q_dedup_pipeline", "q_near_dup_minhash"]


def copy_corpus(src: str, dest: str) -> None:
    """A fresh copy of the corpus tables.  The layout
    stays one file per table, as the repository's oracle gate reads it:
    at this size a scan is one task either way, and float sums then add
    up in the same order on every run."""
    os.makedirs(dest)
    for name in TABLES:
        shutil.copyfile(os.path.join(src, f"{name}.parquet"), os.path.join(dest, f"{name}.parquet"))


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class QueryServing:
    """The star-schema, event-stream and dedup queries in one closed loop;
    each op builds the query's frame and executes it through the noop
    sink.  One workload, so that one Spark start and one cold check pass
    serve both kinds of query."""

    name = "query_serving"
    queries = STAR_QUERIES + DEDUP_QUERIES
    #: the JIT is still compiling for several passes after the check
    #: pass, and each is faster than the one before; one untimed pass
    #: and three timed ones put a per-op median on the third
    warm_passes = 1
    min_passes = 3

    def __init__(self):
        from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES

        self.QUERIES = QUERIES
        self.data = None
        #: (replay op's sample, query, fingerprint of the replay's result)
        self.replays: list[tuple[Sample, str, Fingerprint]] = []

    def build_inputs(self, ctx, dest: str) -> None:
        copy_corpus(ctx.corpus, dest)
        self.data = dest

    def run_pass(self, ctx) -> bool:
        order = list(self.queries)
        ctx.rng.shuffle(order)
        for q in order:
            ctx.op(q, "query", lambda q=q: self._execute(ctx, q))
        if ctx.traced:
            sample, ends = ctx.op("replay", "replay", lambda: self._replay(ctx))
            self.replays += [(sample, q, fp) for q, fp in ends or []]
        return True

    def _execute(self, ctx, q: str) -> None:
        with ctx.spans.span("plans.queries.build"):
            df = self.QUERIES[q](ctx.spark, self.data)
        with ctx.spans.span("plans.queries.execute", split_scan=True):
            _noop(df)

    def check_before(self, ctx) -> dict[str, str]:
        """Fingerprint every query and compare it with its oracle's; a
        query without an oracle must give the same rows twice.  Run
        before the timed phase, this pass also compiles every query's
        code.  Returns failures by query."""
        from nyc_bikeshare_datawarehouse_spark.plans.oracles import ORACLES

        failures = {}
        for q in self.queries:
            got = spark_fingerprint(ctx.frame_signature, self.QUERIES[q](ctx.spark, self.data))
            if q in ORACLES:
                want = ctx.oracles.expected(q, ORACLES[q])
            else:
                want = spark_fingerprint(
                    ctx.frame_signature, self.QUERIES[q](ctx.spark, self.data)
                )
            why = want.mismatch(got)
            if why:
                failures[q] = why
        return failures

    def _replay(self, ctx) -> list[tuple[str, Fingerprint]]:
        """Replay the q_dedup_pipeline and q_jaccard_prefix lattices one
        public function at a time, checkpointing at each boundary so
        every stage's jobs land in its own span.  The parameters are the
        queries' own.  Returns each lattice's query and the fingerprint
        of its end."""
        from pyspark.sql import functions as F

        from nyc_bikeshare_datawarehouse_spark.functions import dedup, text
        from nyc_bikeshare_datawarehouse_spark.functions.graph import two_star_components
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        spans, sig = ctx.spans, ctx.frame_signature
        d = load_table(ctx.spark, self.data, "documents")
        d2 = d.filter(F.size(text.tokens("text")) >= 2)

        with spans.span("functions.dedup.minhash_candidates") as sp:
            cand = dedup.minhash_lsh_candidates_portable(
                d2, "text", "doc_id", n_hashes=12, bands=4, shingle_n=2
            ).localCheckpoint()
        n_cand = cand.count()
        sp.extras["pairs_out"] = n_cand
        with spans.span("functions.dedup.verify") as sp:
            verified = dedup.jaccard_verify_pairs(
                d2, cand, "text", "doc_id", shingle_n=2, min_jaccard=0.5
            ).localCheckpoint()
        sp.extras["verify_yield"] = verified.count() / max(n_cand, 1)
        with spans.span("functions.dedup.cluster") as sp:
            clusters = dedup.cluster_duplicates(verified, d, "doc_id").localCheckpoint()
        with spans.span("functions.graph.two_star"):
            two_star_components(verified, d, "doc_id").localCheckpoint()
        with spans.span("functions.dedup.apply"):
            kept = dedup.apply_dedup(d.select("doc_id", "lang", "n_chars"), clusters).localCheckpoint()
        ends = [("q_dedup_pipeline", spark_fingerprint(sig, kept))]

        with spans.span("functions.dedup.minhash_engine") as sp:
            eng = dedup.minhash_lsh_candidates(
                d, "text", "doc_id", num_hashes=32, bands=8
            ).localCheckpoint()
        sp.extras["pairs_out"] = eng.count()

        with spans.span("functions.dedup.prefix_candidates") as sp:
            pc = dedup.prefix_jaccard_candidates(
                d2, "text", "doc_id", shingle_n=2, min_jaccard=0.5
            ).localCheckpoint()
        n_pc = pc.count()
        sp.extras["pairs_out"] = n_pc
        with spans.span("functions.dedup.prefix_verify") as sp:
            pv = dedup.jaccard_verify_pairs(
                d2, pc, "text", "doc_id", shingle_n=2, min_jaccard=0.5, broadcast_sets=True
            ).localCheckpoint()
        sp.extras["verify_yield"] = pv.count() / max(n_pc, 1)
        ends.append(("q_jaccard_prefix", spark_fingerprint(sig, pv)))
        return ends

    def check(self, ctx) -> None:
        """The replayed lattices must end where their queries do."""
        from nyc_bikeshare_datawarehouse_spark.plans.oracles import ORACLES

        for sample, q, got in self.replays:
            why = ctx.oracles.expected(q, ORACLES[q]).mismatch(got)
            if why:
                ctx.fail([sample], f"{q} replay in pass {sample.pass_no}: {why}")


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


@contextmanager
def _patched(module, spans, names: dict[str, str]):
    """Wrap module-level functions so each call opens a span; used on
    `warehouse.pipeline` to time its calls into readers, sinks and the
    gates without changing the module's code."""
    saved = {attr: getattr(module, attr) for attr in names}

    def wrap(fn, span_name):
        def traced(*args, **kwargs):
            with spans.span(span_name):
                return fn(*args, **kwargs)
        return traced

    for attr, span_name in names.items():
        setattr(module, attr, wrap(saved[attr], span_name))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


class EtlLakehouse:
    """Load the warehouse from generated CSVs, then run a versioned-table
    cycle on trip_fact.  The load runs on a cold JVM, as a batch job
    submitted on its own does."""

    name = "etl_lakehouse"
    #: exactly one pass: the load runs on a cold JVM, and a second,
    #: warm pass would make a run's op medians depend on host speed
    min_passes = max_passes = 1
    n_trips = 20000
    #: rows upserted per merge: this many existing keys plus as many new
    merge_rows = 500

    def __init__(self):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned
        from nyc_bikeshare_datawarehouse_spark.warehouse import pipeline

        self.versioned = versioned
        self.pipeline = pipeline
        self.trips = self.weather = None
        self.input_bytes = 0
        #: (pass dir, table dir) of every complete pass
        self.passes: list[tuple[str, str]] = []
        #: (commit op's sample, table dir, version, expected rows,
        #: expected metadata) of every acknowledged commit
        self.commits: list[tuple[Sample, str, int, tuple, dict]] = []
        #: (read op's sample, observed rows, expected rows) of every read
        self.reads: list[tuple[Sample, int, tuple]] = []
        #: (load op's sample, warehouse dir) of every load
        self.loads: list[tuple[Sample, str]] = []

    def build_inputs(self, ctx, dest: str) -> None:
        from perfbench.etl_inputs import write_trips, write_weather

        os.makedirs(dest)
        self.trips = os.path.join(dest, "trips.csv")
        self.weather = os.path.join(dest, "weather.csv")
        write_trips(self.trips, self.n_trips, ctx.seed)
        write_weather(self.weather, ctx.seed)
        self.input_bytes = os.path.getsize(self.trips) + os.path.getsize(self.weather)

    def run_pass(self, ctx) -> bool:
        """One load and versioned cycle; False when an op failed and the
        pass stopped there."""
        from pyspark.sql import functions as F

        v = self.versioned
        months = 12
        base = os.path.join(ctx.work, f"pass{ctx.pass_no}")
        out, table = os.path.join(base, "warehouse"), os.path.join(base, "trip_fact")

        sample, _ = ctx.op("etl", "etl", lambda: self._load(ctx, out))
        if sample.failed:
            return False
        self.loads.append((sample, out))
        fact = ctx.spark.read.parquet(os.path.join(out, "trip_fact"))

        def commit(label, fn, expect, metadata=None):
            def run():
                with ctx.spans.span("sources.versioned.commit") as sp:
                    if sp is None:
                        res = fn()
                    else:
                        before = _du(table) if os.path.isdir(table) else (0, 0)
                        res = fn()
                        after = _du(table)
                        sp.extras["bytes_written"] = after[0] - before[0]
                        sp.extras["files_written"] = after[1] - before[1]
                return res[0] if isinstance(res, tuple) else res
            sample, version = ctx.op(label, "commit", run)
            if not sample.failed:
                self.commits.append((sample, table, version, expect, metadata or {}))
            return not sample.failed, version

        def read(label, expect, version=None, where=None):
            def run():
                with ctx.spans.span("sources.versioned.read") as sp:
                    n = v.read_snapshot(ctx.spark, table, version=version, where=where).count()
                    if sp is not None:
                        sp.extras["files_scanned_frac"] = _scanned_frac(table, version, where)
                return n
            sample, n = ctx.op(label, "read", run)
            if not sample.failed:
                self.reads.append((sample, n, expect))
            return not sample.failed

        versions = {}
        for m in range(1, months + 1):
            md = {"op": "append", "month": m, "pass": ctx.pass_no}
            ok, versions[m] = commit("append", lambda m=m, md=md: v.write_snapshot(
                fact.where(F.col("month") == m), table, mode="append",
                metadata=md, partition_by=["month"],
            ), ("months", m), md)
            if not ok:
                return False
            if m % 3 == 0:
                # as-of read two commits back, and a partition-pruned read
                if not (read("read_asof", ("months", m - 2), version=versions[m - 2])
                        and read("read_where", ("month", m, 0), where={"month": m})):
                    return False

        for k in range(2):
            updates = self._updates(fact, k)
            ok, _ = commit("merge", lambda u=updates: v.merge_into_snapshot(
                ctx.spark, table, u, key="trip_id"
            ), ("merged", months, k + 1))
            if not ok:
                return False
        if not read("read_where", ("month", 1, 2), where={"month": 1}):
            return False
        # the last month appended goes
        ok, _ = commit("delete", lambda: v.delete_where(
            ctx.spark, table, where={"month": months}
        ), ("deleted", months))
        if not ok:
            return False
        md = {"op": "compact", "pass": ctx.pass_no}
        ok, _ = commit("compact", lambda: v.compact_snapshot(
            ctx.spark, table, target_files=4, metadata=md
        ), ("deleted", months), md)
        if not ok or not read("read_asof", ("months", months), version=versions[months]):
            return False
        self.passes.append((base, table))
        return True

    def _load(self, ctx, out: str):
        """`warehouse.pipeline.run`; traced, its reader, sink and gate
        calls get their own spans.  It runs no job outside them, so it has
        no span of its own: its total is the `etl` op's latency."""
        p = self.pipeline
        if ctx.traced:
            with _patched(p, ctx.spans, {
                "read_csv": "sources.readers.read_csv",
                "write_parquet": "sources.sinks.write_parquet",
                "run_quality_gates": "warehouse.quality.gates",
            }):
                results = p.run(ctx.spark, self.trips, self.weather, out)
        else:
            results = p.run(ctx.spark, self.trips, self.weather, out)
        failed = [f"{r.table}.{r.gate}" for r in results if not r.passed]
        if failed:
            raise AssertionError(f"quality gates failed: {failed}")

    def _updates(self, fact, k: int):
        """`merge_rows` existing January trips with a changed duration,
        plus as many new trips (negated ids: md5-derived ids are >= 0,
        and each merge takes a different slice of January)."""
        from pyspark.sql import functions as F

        n = self.merge_rows
        base = (fact.where(F.col("month") == 1).orderBy("trip_id")
                .limit(n * (k + 1)).orderBy(F.desc("trip_id")).limit(n))
        changed = base.withColumn("duration", F.col("duration") + 1)
        new = base.withColumn("trip_id", -F.col("trip_id") - 1)
        return changed.unionByName(new).select(*fact.columns)

    def check(self, ctx) -> None:
        from perfbench.etl_inputs import expected_trip_counts

        by_month = expected_trip_counts(self.trips)
        total = sum(by_month.values())
        for sample, out in self.loads:
            n = ctx.spark.read.parquet(os.path.join(out, "trip_fact")).count()
            if n != total:
                ctx.fail([sample], f"etl pass {sample.pass_no}: trip_fact has {n} rows, DuckDB says {total}")

        def cum(months: int) -> int:
            return sum(by_month.get(m, 0) for m in range(1, months + 1))

        def rows(expect) -> int:
            kind = expect[0]
            if kind == "months":  # months 1..m appended
                return cum(expect[1])
            if kind == "month":  # one month; January gains merge_rows per merge
                return by_month.get(expect[1], 0) + self.merge_rows * expect[2]
            if kind == "merged":  # months 1..M, after k merges
                return cum(expect[1]) + self.merge_rows * expect[2]
            # deleted: both merges done, then month M removed
            return cum(expect[1]) + 2 * self.merge_rows - by_month.get(expect[1], 0)

        v = self.versioned
        for sample, table, version, expect, md in self.commits:
            n = v.read_snapshot(ctx.spark, table, version=version).count()
            got_md = v.manifest_metadata(table, version)
            if n != rows(expect):
                ctx.fail([sample], f"{sample.name} v{version} of {table}: {n} rows, expected {rows(expect)}")
            elif any(got_md.get(k) != val for k, val in md.items()):
                ctx.fail([sample], f"{sample.name} v{version} of {table}: metadata {got_md} lacks {md}")
        for sample, n, expect in self.reads:
            if n != rows(expect):
                ctx.fail([sample], f"{sample.name} {expect}: {n} rows, expected {rows(expect)}")

    def run_level(self) -> dict[str, float]:
        """write_amp and space_amp over the complete passes."""
        if not self.passes:
            return {}
        written = sum(_du(base)[0] for base, _ in self.passes)
        table = self.passes[-1][1]
        latest = self.versioned.latest_version(table)
        with open(os.path.join(table, f"_manifest_v{latest}.json")) as fh:
            live = sum(os.path.getsize(f) for f in json.load(fh)["files"])
        return {
            "etl.write_amp": written / (self.input_bytes * len(self.passes)),
            "etl.space_amp": _du(table)[0] / live,
        }

    def cleanup(self) -> None:
        for base, _ in self.passes:
            shutil.rmtree(base, ignore_errors=True)


def _scanned_frac(table: str, version, where) -> float:
    """Share of the snapshot's files a read opens after manifest pruning."""
    from nyc_bikeshare_datawarehouse_spark.sources.versioned import latest_version, prune_files

    if version is None:
        version = latest_version(table)
    with open(os.path.join(table, f"_manifest_v{version}.json")) as fh:
        manifest = json.load(fh)
    files = manifest["files"]
    if not files:
        return 1.0
    kept = prune_files(manifest, where) if where else files
    return len(kept) / len(files)


WORKLOADS = {w.name: w for w in (QueryServing, EtlLakehouse)}
