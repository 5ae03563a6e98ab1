"""The workloads: inputs, warm-up, one unit of timed work, output checks
and (traced runs only) per-layer metrics.

Each workload is closed loop with one client: the next operation starts
only after the previous one finished.  ``unit`` runs one fixed amount
of work and returns the latency of each operation in it (None for an
operation that raised or failed its output check) and the unit's wall
time; the timed phase's first ``MIN_UNITS`` units are its fixed work.
Cached state is released and the JVM collected between operations,
outside their timings, as ``bench.timed_query_run`` does.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.stats import median


def release(spark) -> None:
    """Drop cached relations and RDD blocks, then run a JVM GC."""
    from bench import clear_cached_state

    clear_cached_state(spark)
    spark.sparkContext._jvm.System.gc()


def timed_median(fn, reps: int = 3) -> float:
    """Median seconds of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    # Units the timed phase runs even when --seconds has passed: its
    # fixed amount of work, whose wall time is ``wall_s``.  Op times vary
    # by ~10% within a run, so a run times three or more units.
    MIN_UNITS = 3

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.failures: list[str] = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"[{self.name}] {msg}", file=sys.stderr, flush=True)

    def run_op(self, name: str, op: int, body) -> float | None:
        """Release cached state, then run ``body`` inside an op span; its
        latency, or None if it raised.  What the op leaves cached stays
        until the next op, so the heap read after the timed phase sees
        it."""
        release(self.spark)
        try:
            with self.tracer.span(name, op=op) as sp:
                body()
        except Exception as exc:  # one failed op must not end the run
            self.fail(f"op {name} #{op} raised {type(exc).__name__}: {str(exc)[:300]}")
            return None
        return self.tracer.duration(sp)

    def log_layers(self, log, traced: dict) -> dict:
        """Per-layer metrics read from the event log (after the session
        stopped); none by default."""
        return {}


def unit_wall(lats: list[float | None]) -> float | None:
    """Wall time of a unit of sequential ops; None if any op failed."""
    return None if None in lats else sum(lats)


# ---------------------------------------------------------------------------
# etl_match


class EtlMatch(Workload):
    """``run_pipeline`` over seeded ABR XML and a CC index, writing the
    dimension to a fresh parquet directory per pass."""

    name = "etl_match"
    N_PAGES = 500
    TIERS = {"rule_based_abn": "rule", "fuzzy": "fuzzy", "LLM": "llm"}

    def inputs(self) -> float:
        from pyspark import cloudpickle

        # the client crosses into mapInPandas closures; workers then need
        # no importable copy of this module
        cloudpickle.register_pickle_by_value(gen)
        d = os.path.join(self.work, "inputs")

        def make():
            self.inp = gen.etl_inputs(self.seed, self.N_PAGES, d)

        secs = timed_median(make)
        self.client = gen.BenchFetchClient(self.inp["pages"])
        self.n_passes = 0
        return secs

    def one_pass(self, out: str) -> None:
        from firmable_company_data_pipeline_spark.pipeline.run import run_pipeline

        with self.tracer.span("etl.build"):
            df = run_pipeline(
                self.spark,
                self.inp["index_path"],
                self.inp["abr_dir"],
                fetch_client=self.client,
                enable_llm=True,
            )
        with self.tracer.span("etl.write"):
            df.write.mode("overwrite").parquet(out)

    def warm_up(self) -> None:
        """The cold first pass, checked like every other."""
        self.unit(-1)

    def unit(self, k: int) -> tuple[list[float | None], float | None]:
        """One pass; its output is checked right after, outside its timing."""
        out = os.path.join(self.work, "out", f"pass{self.n_passes}")
        self.n_passes += 1
        lat = self.run_op("etl.pass", k, lambda: self.one_pass(out))
        if lat is not None:
            with self.tracer.span("check"):
                if not self.check_output(out):
                    lat = None
        return [lat], lat

    def check_output(self, out: str) -> bool:
        got: dict[str, list] = {t: [] for t in self.TIERS.values()}
        for r in self.spark.read.parquet(out).select("domain", "abr_abn", "match_method").collect():
            got.setdefault(self.TIERS.get(r[2], r[2]), []).append([r[0], r[1]])
        ok = True
        for tier, rows in got.items():
            want = self.inp["truth"].get(tier, [])
            if sorted(rows) != want:
                self.fail(f"{out}: tier {tier} has {len(rows)} rows, planted {len(want)}")
                ok = False
        return ok

    def layers(self, op_spans: list[dict]) -> dict:
        """Each layer's public function timed alone on staged parquet
        inputs, plus exact work counts of the cascade; ``op_spans`` are
        the traced passes."""
        from pyspark.sql import functions as F

        from firmable_company_data_pipeline_spark.operators.matching import (
            anti_join_residual,
            fuzzy_match,
            llm_match,
            rule_based_match,
        )
        from firmable_company_data_pipeline_spark.pipeline.cleaning import (
            clean_abr_data,
            clean_commoncrawl_data,
        )
        from firmable_company_data_pipeline_spark.pipeline.run import (
            run_commoncrawl_extraction,
        )
        from firmable_company_data_pipeline_spark.sources.xml_abr import read_abr_xml

        spark = self.spark
        st = os.path.join(self.work, "stage")

        def read(name):
            return spark.read.parquet(os.path.join(st, name))

        def stage(name, make, span):
            # the second call is the warm one; its span is the layer's time
            for _ in range(2):
                with self.tracer.span(span):
                    noop(make())
                release(spark)
            make().write.mode("overwrite").parquet(os.path.join(st, name))
            release(spark)

        stage("abr_raw", lambda: read_abr_xml(spark, self.inp["abr_dir"]), "sources.abr_xml")
        stage(
            "cc_raw",
            lambda: run_commoncrawl_extraction(spark, self.inp["index_path"], client=self.client),
            "sources.cc_extract",
        )
        stage("abr_clean", lambda: clean_abr_data(read("abr_raw")), "cleaning.abr")
        stage("cc_clean", lambda: clean_commoncrawl_data(read("cc_raw")), "cleaning.cc")
        stage("rule", lambda: rule_based_match(read("cc_clean"), read("abr_clean")), "matching.rule")
        anti_join_residual(read("cc_clean"), read("rule"), "domain").write.mode(
            "overwrite"
        ).parquet(os.path.join(st, "res1"))
        stage("fuzzy", lambda: fuzzy_match(read("res1"), read("abr_clean")), "matching.fuzzy")
        anti_join_residual(read("res1"), read("fuzzy").select("domain"), "domain").write.mode(
            "overwrite"
        ).parquet(os.path.join(st, "res2"))
        stage("llm", lambda: llm_match(read("res2"), read("abr_clean")), "matching.llm")

        layer_s = {
            name: self.tracer.duration(self.tracer.find(name)[-1])
            for name in (
                "sources.abr_xml",
                "sources.cc_extract",
                "cleaning.abr",
                "cleaning.cc",
                "matching.rule",
                "matching.fuzzy",
                "matching.llm",
            )
        }
        n = {
            name: read(name).count()
            for name in ("abr_raw", "cc_raw", "abr_clean", "cc_clean", "rule", "fuzzy", "llm")
        }
        abr_blocks = read("abr_clean").groupBy("postcode").agg(F.count(F.lit(1)).alias("n_abr"))
        pairs = (
            read("res1")
            .groupBy("postcode")
            .agg(F.count(F.lit(1)).alias("n_cc"))
            .join(abr_blocks, "postcode")
            .agg(F.sum(F.col("n_cc") * F.col("n_abr")))
            .first()[0]
        ) or 0
        llm_sent = read("res2").join(abr_blocks, "postcode", "left_semi").count()
        out = {f"{k}_s": v for k, v in layer_s.items()}
        out.update(
            {
                "cleaning.kept_frac": (n["abr_clean"] + n["cc_clean"]) / (n["abr_raw"] + n["cc_raw"]),
                "matching.fuzzy_pairs_scored": pairs,
                "matching.fuzzy_yield": n["fuzzy"] / pairs if pairs else 0.0,
                "matching.llm_rows_sent": llm_sent,
                "matching.tier_rows.rule": n["rule"],
                "matching.tier_rows.fuzzy": n["fuzzy"],
                "matching.tier_rows.llm": n["llm"],
                "etl.pass_over_staged": median([self.tracer.duration(s) for s in op_spans])
                / sum(layer_s.values()),
            }
        )
        return out

    def log_layers(self, log, traced: dict) -> dict:
        from perfbench.trace import Tracer

        sp = self.tracer.find("sources.cc_extract")[-1]
        t = log.totals(log.jobs_in_groups([Tracer.group(sp)]))
        return {
            "sources.py_bytes_sent": t["py_bytes_sent"],
            "sources.py_bytes_returned": t["py_bytes_returned"],
        }


# ---------------------------------------------------------------------------
# curation_queries


class CurationQueries(Workload):
    """A fixed rotation of registry queries over a seeded ``documents``
    table, each built, then executed through the noop sink."""

    name = "curation_queries"
    # one build-bound query (driver jobs before the DataFrame returns),
    # then two execute-bound ones: batch MinHash-LSH and its incremental
    # form, the delta join the streaming fold runs per batch
    ROTATION = ("winnow_pair_report", "dedup_minhash_lsh", "dedup_incremental_minhash")
    # the three DuckDB oracles, run once per run, take ~4 s at this
    # size and ~8 s at 300 documents; a warm rotation costs about the
    # same at either size (its ops are overhead-bound)
    N_DOCS = 150
    # After the cold first ops, rotations keep getting faster for several
    # more (winnow_pair_report 3.3, 2.7, 2.4, 2.3, 2.3, 2.3, 2.1 s in one
    # run) while the JIT catches up.  None is left out as warm-up: a run
    # times six rotations and ``wall_s`` takes each op's median over them,
    # so the slow first ones weigh little, and the timed ops cover ~24 s
    # of the run, long enough that one slow spell of the shared machine
    # does not decide the median.  Every run sits at the same point of the
    # curve, since the count is fixed.
    MIN_UNITS = 6
    PHASE_STATS = ("build_s", "exec_s", "build_jobs", "exec_jobs")

    def inputs(self) -> float:
        from firmable_company_data_pipeline_spark.queries import registry

        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf, exist_ok=True)

        path = self.table("documents")
        secs = timed_median(lambda: gen.write_table(gen.documents(self.seed, self.N_DOCS), path))
        self.queries, self.oracles = registry()
        self.bad: set[str] = set()
        return secs

    def warm_up(self) -> None:
        """One execution of each query, collected and compared with its
        DuckDB oracle: the cold first op and the once-per-run check."""
        import duckdb

        from scripts.check_contract import compare

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.table('documents')}')")
        for name in self.ROTATION:
            res = con.execute(self.oracles[name])
            verdict = compare(
                name,
                self.queries[name](self.spark, self.sf),
                res.fetchall(),
                [d[0] for d in res.description],
            )
            if verdict is not None:
                self.bad.add(name)
                self.fail(f"{name} differs from its oracle: {verdict}")
            release(self.spark)
        con.close()

    def table(self, name: str) -> str:
        return os.path.join(self.sf, f"{name}.parquet")

    def one_query(self, name: str) -> None:
        with self.tracer.span("queries.build"):
            df = self.queries[name](self.spark, self.sf)
        # the noop write plans its own QueryExecution: exec includes planning
        with self.tracer.span("queries.exec"):
            noop(df)

    def plan_times(self) -> dict[str, float]:
        """Seconds to force the physical plan of a freshly built
        DataFrame, per query.  Measured apart from the timed units, so
        that traced and untraced units do the same work: a plan forced
        inside a unit would be planned again by the write.  Once per
        query, to keep the traced run well inside its time limit."""
        out = {}
        for name in self.ROTATION:
            release(self.spark)
            df = self.queries[name](self.spark, self.sf)
            with self.tracer.span("queries.plan") as sp:
                df._jdf.queryExecution().executedPlan()
            out[name] = self.tracer.duration(sp)
        release(self.spark)
        return out

    def unit(self, k: int) -> tuple[list[float | None], float | None]:
        lats = []
        for i, name in enumerate(self.ROTATION):
            lat = self.run_op(f"q.{name}", k * len(self.ROTATION) + i, lambda: self.one_query(name))
            lats.append(None if name in self.bad else lat)
        return lats, unit_wall(lats)

    def layers(self, op_spans: list[dict]) -> dict:
        """Build and exec times and job counts per rotation and per
        query from the traced ops, the plan probe, and the streaming
        fold probe."""
        tr = self.tracer
        per_q: dict[str, dict[str, list]] = {}
        for sp in op_spans:
            kids = {c["name"].split(".")[-1]: c for c in tr.children(sp)}
            q = per_q.setdefault(sp["name"], {k: [] for k in self.PHASE_STATS})
            for ph in ("build", "exec"):
                q[f"{ph}_s"].append(tr.duration(kids[ph]))
                q[f"{ph}_jobs"].append(len(kids[ph].get("jobs", [])))
        rotations = max(1, len(op_spans) // len(self.ROTATION))
        per_rot = {k: sum(sum(v[k]) for v in per_q.values()) / rotations for k in self.PHASE_STATS}
        out = {f"queries.{k}": v for k, v in per_rot.items()}
        total = per_rot["build_s"] + per_rot["exec_s"]
        out["queries.build_frac"] = per_rot["build_s"] / total if total else 0.0
        out["queries.plan_s"] = sum(self.plan_times().values())
        for span_name, v in per_q.items():
            out[f"{span_name}.build_s"] = median(v["build_s"])
            out[f"{span_name}.exec_s"] = median(v["exec_s"])
            out[f"{span_name}.build_jobs"] = max(v["build_jobs"])
        self.probe = DedupStreamProbe(self, self.table("documents"))
        out.update(self.probe.run())
        return out

    def log_layers(self, log, traced: dict) -> dict:
        return self.probe.log_layers(log)


# ---------------------------------------------------------------------------
# streaming fold probe (traced curation runs)


class DedupStreamProbe:
    """``streaming_minhash_dedup`` with a labels fold over the curation
    ``documents`` table, fed as parquet files with one file per
    micro-batch.  Run once per traced ``curation_queries`` run, after a
    warm-up stream over the first file; its streamed pairs must
    equal ``operators.dedup.minhash_lsh_pairs`` run in batch."""

    N_FILES = 3
    SCHEMA = "doc_id long, text string"

    def __init__(self, wl: Workload, docs_path: str):
        self.wl = wl
        self.spark = wl.spark
        self.work = os.path.join(wl.work, "stream")
        self.src = os.path.join(self.work, "src")
        warm_src = os.path.join(self.work, "warm_src")
        docs = pq.read_table(docs_path).select(["doc_id", "text"])
        gen.split_into_files(docs, self.src, self.N_FILES)
        per = -(-docs.num_rows // self.N_FILES)
        gen.split_into_files(docs.slice(0, per), warm_src, 1)
        self.warm_src = warm_src

    def start(self, src: str, out: str):
        from firmable_company_data_pipeline_spark.streaming import jobs

        stream = (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return jobs.streaming_minhash_dedup(
            stream,
            os.path.join(out, "index"),
            os.path.join(out, "pairs"),
            checkpoint=os.path.join(out, "ckpt"),
            threshold=0.5,
            labels_dir=os.path.join(out, "labels"),
        )

    def run(self) -> dict:
        from firmable_company_data_pipeline_spark.operators import dedup as dd
        from firmable_company_data_pipeline_spark.sources.io import dir_stats

        spark = self.spark
        for tag, src in (("warm", self.warm_src), ("probe", self.src)):
            release(spark)
            out = os.path.join(self.work, tag)
            with self.wl.tracer.span(f"stream.{tag}") as sp:
                q = self.start(src, out)
                sp["run_id"] = self.run_id = str(q.runId)
                q.awaitTermination()
            if q.exception() is not None:
                self.wl.fail(f"{tag} stream failed: {str(q.exception())[:300]}")
                return {}
        release(spark)
        pairs = spark.read.parquet(os.path.join(out, "pairs")).select("id_a", "id_b", "est_jaccard")
        got = sorted(tuple(r) for r in pairs.collect())
        docs = spark.read.schema(self.SCHEMA).parquet(self.src)
        want = sorted(tuple(r) for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect())
        if got != want:
            self.wl.fail(f"{len(got)} streamed pairs, batch operator finds {len(want)}")
        durs = [p["durationMs"] for p in q.recentProgress if p["numInputRows"] > 0]
        first = durs[0]["triggerExecution"] / 1e3
        last = durs[-1]["triggerExecution"] / 1e3
        idx_bytes, files = dir_stats(spark, os.path.join(out, "index"))
        for sub in ("pairs", "labels"):
            files += dir_stats(spark, os.path.join(out, sub))[1]
        return {
            "stream.batch_first_s": first,
            "stream.batch_last_s": last,
            "stream.batch_growth": last / first,
            "stream.trigger_overhead_s": median(
                [(d["triggerExecution"] - d.get("addBatch", 0)) / 1e3 for d in durs]
            ),
            "stream.index_bytes": idx_bytes,
            "stream.files_written": files,
            "stream.pairs_rows": len(got),
        }

    def log_layers(self, log) -> dict:
        # a stream tags its jobs with its run id as their job group
        by_batch = {
            b: log.totals(jobs)
            for b, jobs in log.jobs_by_batch(log.jobs_in_groups([self.run_id])).items()
        }
        n = max(1, len(by_batch))
        src_bytes = sum(os.path.getsize(os.path.join(self.src, f)) for f in os.listdir(self.src))
        return {
            "stream.stages_per_batch": sum(t["stages"] for t in by_batch.values()) / n,
            "stream.bytes_read_per_batch": sum(t["input_bytes"] for t in by_batch.values()) / n,
            "stream.bytes_written_per_input_byte": sum(t["output_bytes"] for t in by_batch.values())
            / src_bytes,
        }


WORKLOADS = {w.name: w for w in (EtlMatch, CurationQueries)}
