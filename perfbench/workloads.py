"""The benchmark workloads: one pass each, its check, and its layers.

``ingest_fanout`` is the CLI batch job. ``codec_dedup`` runs two tiers in
one pass, the wire codec (``WireCodec``) and the dedup operators
(``DedupCorpus``). A workload generates its inputs from the seed
(``generate``), binds them to a session (``bind``), compiles its plans
(``warm``), runs one timed pass through the engine's public entry
points (``run_pass``) and checks that pass's outputs (``check``, which
returns the list of problems found). The traced run also calls
``probe`` (extra calls into public functions whose spans or counts isolate
one layer) and ``layers`` (per-layer metrics from the pass spans, the probe
spans, the spans of the engine's calls into PySpark and Spark's event log).
Nothing here reaches inside the package.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from eventlog import EventLog
from spans import Span, Tracer, union_s

# Every per-layer metric the traced run reports, with its unit. A layer a
# workload never runs reports 0 there (its counters saw no work).
LAYER_UNITS = {
    "sources.scan_s": "s", "parse.self_s": "s", "enrich.self_s": "s",
    "route.self_s": "s",
    "parse.dead_letter_rows": "count", "enrich.unmatched_rows": "count",
    "route.shuffle_write_bytes": "B", "route.reduce_skew": "ratio",
    "pipeline.wave_s": "s", "pipeline.waves": "count",
    "pipeline.files_written": "count", "pipeline.bytes_written": "B",
    "pipeline.stored_bytes_per_turn": "B", "pipeline.cache_bytes": "B",
    "pipeline.plan_build_s": "s",
    "checkpoint.commits": "count",
    "aggregate.conv_stats_s": "s", "aggregate.hourly_stats_s": "s",
    "aggregate.readback_bytes": "B", "aggregate.shuffle_bytes": "B",
    "pb_wire.decode_self_s": "s", "pb_wire.encode_s": "s",
    "pb_wire.decode_errors": "count",
    "pb_wire.decode_msgs_per_s": "1/s", "pb_wire.encode_msgs_per_s": "1/s",
    "udf.bytes_to_python": "B", "udf.bytes_from_python": "B",
    "udf.tasks": "count", "udf.python_run_s": "s", "udf.python_init_s": "s",
    "dedup.fingerprint_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.oversize_buckets": "count", "dedup.star_edges": "count",
    "dedup.clusters_s": "s", "dedup.cluster_jobs": "count",
    "similarity.neardup_s": "s", "similarity.neardup_pairs": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "B", "spark.fetch_wait_s": "s",
    "spark.tasks": "count",
    "driver.gap_s": "s", "trace.pass_s": "s", "trace.coverage": "ratio",
    "trace.unattributed_s": "s", "trace.overhead_s": "s",
}

# Python-runner SQL metrics, summed from the task-end accumulables
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"
_PY_RUN_MS = "time to run Python workers"
_PY_INIT_MS = "time to initialize Python workers"


# Input sizes (the corpus sizes are in inputs.py). One pass of each
# workload takes about 10 s on a 4-core host; README.md gives the
# measurements behind each figure. The warm-up inputs are small tables from
# the same generators.
INGEST_TURNS = 60_000
WIRE_DECODE_MSGS = 150_000   # decode costs about 1/8 of encode per message
WIRE_ENCODE_MSGS = 20_000


def _med(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spark_layers(log: EventLog, passes: list[Span]) -> dict[str, float]:
    """Engine-wide Spark metrics and driver gap, median over traced passes."""
    per: dict[str, list[float]] = {}
    for p in passes:
        jobs = log.jobs_in(p.start, p.end)
        tasks = log.tasks_of(log.stages_of(jobs))
        row = log.totals(tasks)
        row["udf.bytes_to_python"] = log.accum(tasks, _TO_PY)
        row["udf.bytes_from_python"] = log.accum(tasks, _FROM_PY)
        row["udf.tasks"] = sum(1 for t in tasks if t.accums.get(_TO_PY))
        row["udf.python_run_s"] = log.accum(tasks, _PY_RUN_MS) / 1e3
        row["udf.python_init_s"] = log.accum(tasks, _PY_INIT_MS) / 1e3
        busy = union_s([(j.start, min(j.end, p.end)) for j in jobs])
        row["driver.gap_s"] = p.dur - busy
        for k, v in row.items():
            per.setdefault(k, []).append(v)
    return {k: _med(v) for k, v in per.items()}


def _durs(tracer: Tracer, name: str) -> list[float]:
    return [s.dur for s in tracer.spans if s.name == name]


def add_log_spans(tracer: Tracer, log: EventLog, passes: list[Span]) -> None:
    """Each pass's SQL executions (named by plan kind) and the Spark jobs
    that ran outside any execution, as spans under the pass."""
    for p in passes:
        for x in log.executions_in(p.start, p.end):
            tracer.add(f"sql:{x.kind()}", x.start, x.end, p)
        for j in log.jobs_in(p.start, p.end):
            if j.execution is None:
                tracer.add("spark:job", j.start, j.end, p)


def covered_s(tracer: Tracer, p: Span) -> float:
    """Wall time of pass ``p`` inside at least one measured span: spans
    around public calls, and event-log executions and jobs. Time outside
    them is unattributed."""
    return union_s([(max(s.start, p.start), min(s.end, p.end))
                    for s in tracer.spans
                    if s.trace == p.trace and s is not p and s.end > s.start])


# ---------------------------------------------------------------------------
# ingest_fanout
# ---------------------------------------------------------------------------

_ACTIONS = ("DataFrame.persist", "DataFrame.unpersist", "DataFrame.cache",
            "DataFrame.collect", "DataFrame.count", "DataFrame.first",
            "DataFrame.take", "DataFrame.toPandas")


def _plan_building(span_name: str) -> bool:
    """A call by the pipeline module that builds a plan or a Column: the
    DataFrame, Column and functions APIs and bare py4j calls, but no read,
    write or action."""
    mod, _, call = span_name.partition(":")
    return mod == "plans.pipeline" and call not in _ACTIONS and \
        call.startswith(("DataFrame.", "Column.", "functions.", "py4j"))


class IngestFanout:
    """``cli.main`` with the CLI defaults over a transcripts table."""

    name = "ingest_fanout"

    def __init__(self, work: str) -> None:
        self.tr = os.path.join(work, "transcripts")
        self.tr_warm = os.path.join(work, "transcripts_warm")
        self.out = os.path.join(work, "job_out")
        self.exp: inputs.IngestExpected | None = None

    def generate(self, seed: int) -> None:
        for d in (self.tr, self.tr_warm):
            shutil.rmtree(d, ignore_errors=True)
        self.exp = inputs.ingest_inputs(seed, INGEST_TURNS, self.tr)
        inputs.ingest_inputs(seed + 1, 4_000, self.tr_warm)

    def bind(self, spark) -> None:
        self.spark = spark

    def _job(self, tr: str) -> dict:
        from logstash_codec_protobuf_spark import cli

        shutil.rmtree(self.out, ignore_errors=True)
        with contextlib.redirect_stdout(io.StringIO()):  # cli prints JSON
            return cli.main(["--sf-dir", tr, "--out", self.out,
                             "--transcripts-path", tr])

    def warm(self) -> None:
        """The same job on a small table: compiles every plan of a pass."""
        self._job(self.tr_warm)

    def run_pass(self, tracer: Tracer, parent: Span) -> dict:
        return self._job(self.tr)

    def info(self, tracer: Tracer) -> dict[str, tuple[float, str]]:
        """Throughput and storage figures of this workload, by name."""
        files = [f for f, _ in self._data_files()]
        return {
            "turns_per_s": (INGEST_TURNS / _med(_durs(tracer, "pass")), "1/s"),
            "stored_bytes_per_turn": (
                sum(os.path.getsize(f) for f in files) / INGEST_TURNS, "B"),
        }

    def _data_files(self, sink: str = "*"):
        routed = os.path.join(self.out, "routed")
        for d, _, fs in os.walk(routed):
            for f in fs:
                if f.endswith(".parquet") and (
                        sink == "*" or f"{os.sep}sink={sink}" in d):
                    yield os.path.join(d, f), d.rsplit("sink=", 1)[-1]

    def _dead_letter_split(self) -> tuple[int, int]:
        """(parse failures, dictionary misses) among dead-letter rows."""
        cols = [pq.read_table(f, columns=["decoder_exception"]).column(0)
                for f, _ in self._data_files("dead_letter")]
        errors = sum(c.length() - c.null_count for c in cols)
        return errors, sum(c.length() for c in cols) - errors

    def check(self, res: dict) -> list[str]:
        e, bad = self.exp, []
        if res.get("rows") != e.n_turns or res.get("buckets") != 64:
            bad.append(f"job result {res}")
        landed: dict[str, int] = {}
        for path, sink in self._data_files():
            landed[sink] = landed.get(sink, 0) + \
                pq.read_metadata(path).num_rows
        landed = {s: landed.get(s, 0) for s in inputs.SINKS}
        if landed != e.sink_counts:
            bad.append(f"landed sink counts {landed} != {e.sink_counts}")
        if sum(landed.values()) != e.n_turns:
            bad.append("input != sum of sinks (dead-letter included)")
        errors, unmatched = self._dead_letter_split()
        if (errors, unmatched) != (e.dead_letter_rows, e.unmatched_rows):
            bad.append(f"dead letter holds {errors} parse failures and "
                       f"{unmatched} unmatched tools, expected "
                       f"{e.dead_letter_rows} and {e.unmatched_rows}")
        manifest: dict[str, int] = {}
        mdir = os.path.join(self.out, "manifest")
        for f in os.listdir(mdir):
            with open(os.path.join(mdir, f)) as fh:
                for s, n in json.load(fh)["sinks"].items():
                    manifest[s] = manifest.get(s, 0) + n
        if {s: manifest.get(s, 0) for s in inputs.SINKS} != e.sink_counts:
            bad.append(f"manifest sink counts {manifest}")
        cs = pq.read_table(os.path.join(self.out, "conv_stats")).to_pydict()
        got = {c: (n, m, s) for c, n, m, s in zip(
            cs["conv_id"], cs["n_turns"], cs["max_turn"], cs["sum_cents"])}
        if got != e.conv_stats:
            bad.append(f"conv_stats differ on "
                       f"{len(set(got.items()) ^ set(e.conv_stats.items()))}"
                       " rows")
        hs = pq.read_table(os.path.join(self.out, "hourly_stats"))
        hours = hs.column("hour").cast(pa.timestamp("us")).to_numpy() \
            .astype("datetime64[h]").astype(str)
        got_h = dict(zip(zip(hours.tolist(), hs.column("sink").to_pylist()),
                         hs.column("n_turns").to_pylist()))
        if got_h != e.hourly:
            bad.append("hourly_stats differ")
        return bad

    # -- traced run -----------------------------------------------------------

    def probe(self, tracer: Tracer, trace: int) -> None:
        """Prefix passes (noop writes): scan, +parse, +enrich, +route."""
        from pyspark.sql import functions as F

        from logstash_codec_protobuf_spark.config import CodecConfig
        from logstash_codec_protobuf_spark.operators.enrich import enrich
        from logstash_codec_protobuf_spark.operators.parse import parse_turns
        from logstash_codec_protobuf_spark.operators.route import (
            probe_repartition, route_all)

        spark = self.spark
        sinks = CodecConfig().sinks
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def scan():
            return spark.read.parquet(self.tr)

        def parsed():
            return parse_turns(scan())

        def enriched():
            return enrich(parsed(), spark, tag_unknown=False)

        def routed():
            pos = F.array_position(F.array(*[F.lit(s) for s in sinks]),
                                   F.col("sink")) - F.lit(1)
            return probe_repartition(route_all(enriched()), n, pos,
                                     len(sinks))

        for stage, build in (("scan", scan), ("parse", parsed),
                             ("enrich", enriched), ("route", routed)):
            df = build()
            with tracer.span(f"probe.{stage}", trace):
                _noop(df)

    def layers(self, tracer: Tracer, passes: list[Span], log: EventLog
               ) -> dict[str, float]:
        m: dict[str, list[float]] = {}

        def put(k, v):
            m.setdefault(k, []).append(v)

        for p in passes:
            put("pipeline.plan_build_s", sum(
                c.dur for c in tracer.children(p) if _plan_building(c.name)))
            execs = log.executions_in(p.start, p.end)
            waves = [x for x in execs if x.kind() == "pipeline.wave"]
            aggs = [x for x in execs if x.kind().startswith("aggregate.")]
            put("pipeline.cache_bytes",
                log.cached_bytes(log.jobs_in(p.start, p.end)))
            put("pipeline.wave_s", sum(x.end - x.start for x in waves))
            put("pipeline.waves", len(waves))
            wave_stages = set().union(*[log.execution_stages(x)
                                        for x in waves]) if waves else set()
            wave_tasks = log.tasks_of(wave_stages)
            put("route.shuffle_write_bytes",
                sum(log.shuffle_write_bytes(t) for t in wave_tasks))
            put("route.reduce_skew", log.reduce_skew(wave_stages))
            for kind in ("aggregate.conv_stats", "aggregate.hourly_stats"):
                put(kind + "_s", sum(x.end - x.start for x in aggs
                                     if x.kind() == kind))
            agg_tasks = log.tasks_of(set().union(
                *[log.execution_stages(x) for x in aggs]) if aggs else set())
            put("aggregate.readback_bytes",
                sum(log.input_bytes(t) for t in agg_tasks))
            put("aggregate.shuffle_bytes",
                sum(log.shuffle_write_bytes(t) for t in agg_tasks))
        out = {k: _med(v) for k, v in m.items()}

        # outputs of the last traced pass are still on disk
        files = [f for f, _ in self._data_files()]
        out["pipeline.files_written"] = len(files)
        out["pipeline.bytes_written"] = sum(os.path.getsize(f) for f in files)
        out["pipeline.stored_bytes_per_turn"] = \
            out["pipeline.bytes_written"] / INGEST_TURNS
        out["checkpoint.commits"] = len(
            os.listdir(os.path.join(self.out, "manifest")))
        out["parse.dead_letter_rows"], out["enrich.unmatched_rows"] = \
            self._dead_letter_split()

        probes = {s: _med(_durs(tracer, f"probe.{s}"))
                  for s in ("scan", "parse", "enrich", "route")}
        out["sources.scan_s"] = probes["scan"]
        out["parse.self_s"] = probes["parse"] - probes["scan"]
        out["enrich.self_s"] = probes["enrich"] - probes["parse"]
        out["route.self_s"] = probes["route"] - probes["enrich"]
        return out


# ---------------------------------------------------------------------------
# wire_codec
# ---------------------------------------------------------------------------

class WireCodec:
    """``decode_turn_wire`` over stored payloads, ``encode_turn_wire`` over
    typed rows. Each direction ends in one aggregate that digests every
    output row, so the whole output is computed and checkable from a single
    result row."""

    def __init__(self, work: str) -> None:
        self.dec = os.path.join(work, "payloads")
        self.enc = os.path.join(work, "turn_rows")
        self.warm_dirs = (os.path.join(work, "payloads_warm"),
                          os.path.join(work, "turn_rows_warm"))
        self.exp: inputs.WireExpected | None = None

    def generate(self, seed: int) -> None:
        for d in (self.dec, self.enc, *self.warm_dirs):
            shutil.rmtree(d, ignore_errors=True)
        self.exp = inputs.wire_inputs(seed, WIRE_DECODE_MSGS,
                                      WIRE_ENCODE_MSGS, self.dec, self.enc)
        inputs.wire_inputs(seed + 1, 4_000, 1_000, *self.warm_dirs)

    def bind(self, spark) -> None:
        self.spark = spark

    def _decode(self):
        from pyspark.sql import functions as F

        from logstash_codec_protobuf_spark.operators.pb_wire import (
            decode_turn_wire)

        d = decode_turn_wire(self.spark.read.parquet(self.dec)) \
            .select("id", "decoded.*")
        s = lambda c: F.col(c).cast("string")  # noqa: E731
        key = F.concat_ws(
            "|", s("id"), "conv_id", s("turn_idx"), "role", "tool", "colour",
            s("cents"), F.coalesce(s("horn"), F.lit("-")),
            F.coalesce(s("wings"), F.lit("-")), "msg",
            F.coalesce("oneof_body", F.lit("-")))
        ok = F.col("error").isNull()
        return d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(ok, F.crc32(key))).alias("digest"),
            F.count("error").alias("errors"),
            F.sum(F.when(~ok, F.col("id"))).alias("error_ids"),
        ).first()

    def _encode(self):
        from pyspark.sql import functions as F

        from logstash_codec_protobuf_spark.operators.pb_wire import (
            encode_turn_wire)

        e = encode_turn_wire(self.spark.read.parquet(self.enc))
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.concat_ws("|", F.col("id").cast("string"),
                                      "payload_hex"))).alias("digest"),
            F.sum(F.length("payload")).alias("bytes"),
        ).first()

    def run_pass(self, tracer: Tracer, parent: Span):
        with tracer.span("pb_wire.decode", parent.trace):
            dec = self._decode()
        with tracer.span("pb_wire.encode", parent.trace):
            enc = self._encode()
        self.last_errors = dec["errors"]
        return dec, enc

    def check(self, res) -> list[str]:
        (dec, enc), e, bad = res, self.exp, []
        if dec["n"] != e.n_decode or dec["digest"] != e.decode_digest:
            bad.append("decoded rows differ from the source rows")
        if dec["errors"] != e.corrupt_count or \
                dec["error_ids"] != e.corrupt_id_sum:
            bad.append(f"{dec['errors']} error rows, planted "
                       f"{e.corrupt_count}")
        if enc["n"] != e.n_encode or enc["digest"] != e.encode_digest or \
                enc["bytes"] != e.encode_bytes:
            bad.append("encoded payloads differ from the reference bytes")
        return bad

    def warm(self) -> None:
        """Both directions on small tables: compiles the plans and starts
        the Python workers."""
        paths = self.dec, self.enc
        self.dec, self.enc = self.warm_dirs
        try:
            self._decode()
            self._encode()
        finally:
            self.dec, self.enc = paths

    def probe(self, tracer: Tracer, trace: int) -> None:
        df = self.spark.read.parquet(self.dec)
        with tracer.span("probe.payload_scan", trace):
            _noop(df)

    def layers(self, tracer: Tracer, passes: list[Span], log: EventLog
               ) -> dict[str, float]:
        jobs = [j for p in passes for j in log.jobs_in(p.start, p.end)]
        if not log.accum(log.tasks_of(log.stages_of(jobs)), _TO_PY):
            raise RuntimeError("the event log lacks the Python-worker "
                               "accumulables the udf.* metrics read")
        dec = _med(_durs(tracer, "pb_wire.decode"))
        enc = _med(_durs(tracer, "pb_wire.encode"))
        scan = _med(_durs(tracer, "probe.payload_scan"))
        return {
            "pb_wire.decode_self_s": dec - scan,
            "pb_wire.encode_s": enc,
            "pb_wire.decode_msgs_per_s": WIRE_DECODE_MSGS / dec,
            "pb_wire.encode_msgs_per_s": WIRE_ENCODE_MSGS / enc,
            "pb_wire.decode_errors": self.last_errors,
        }


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------

# DedupExpected field -> oracle
_ORACLES = ("jaccard_pairs", "clusters", "neardup_pairs")
_CTE = re.compile(r"\b(\w+) AS \((?=\s*(?:SELECT|WITH)\b)")


def _materialized(sql: str) -> str:
    """The query with every plain CTE marked ``AS MATERIALIZED``. DuckDB 1.0
    inlines a CTE at each reference (the star-edge CTE is recomputed on
    every step of the cluster recursion), so the three oracles took about
    170 s on the corpus. Materialized, they take about 20 s and return the
    same rows."""
    return _CTE.sub(r"\1 AS MATERIALIZED (", sql)


def dedup_oracle(name: str, docs: str, emb: str, out_json: str) -> None:
    """One of the package's DuckDB oracles over the generated corpus. Each
    runs in its own child process while the session starts and warms up."""
    import duckdb

    from logstash_codec_protobuf_spark.operators import dedup as DD
    from logstash_codec_protobuf_spark.operators import similarity as SIM

    sql = {"jaccard_pairs": lambda: DD.ngram_jaccard_oracle(0.5),
           "clusters": DD.dedup_clusters_star_oracle,
           "neardup_pairs": lambda: SIM.neardup_pairs_oracle(0.9)}[name]()
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("CREATE TABLE documents AS SELECT * FROM "
                f"read_parquet('{docs}/*.parquet')")
    con.execute("CREATE TABLE embeddings AS SELECT * FROM "
                f"read_parquet('{emb}/*.parquet')")
    rows = con.execute(_materialized(sql)).fetchall()
    con.close()
    with open(out_json, "w") as f:
        json.dump(rows, f)


def _rows(rows) -> set[tuple]:
    return {tuple(r) for r in rows}


class DedupCorpus:
    """``ngram_jaccard_pairs``, ``dedup_clusters_star`` and
    ``similarity.neardup_pairs`` over a corpus with planted families."""

    def __init__(self, work: str) -> None:
        self.docs = os.path.join(work, "documents")
        self.emb = os.path.join(work, "embeddings")
        self.warm_dirs = (os.path.join(work, "documents_warm"),
                          os.path.join(work, "embeddings_warm"))
        self.work = work
        self.exp: inputs.DedupExpected | None = None
        self._oracle_procs: dict = {}

    def generate(self, seed: int) -> None:
        for d in (self.docs, self.emb, *self.warm_dirs):
            shutil.rmtree(d, ignore_errors=True)
        self.exp = inputs.dedup_inputs(
            seed, inputs.DOCS_BASE, inputs.NEARDUP_COPIES,
            inputs.BOILERPLATE_COPIES, inputs.EMBEDDINGS, self.docs, self.emb)
        inputs.dedup_inputs(seed + 1, 100, 10, 40, 60, *self.warm_dirs)

    def start_oracles(self) -> None:
        # plain child processes: multiprocessing would also start a
        # resource tracker, which outlives this process by a moment
        self._oracle_procs = {
            name: subprocess.Popen([sys.executable, os.path.abspath(__file__),
                                    name, self.docs, self.emb,
                                    self._oracle_json(name)])
            for name in _ORACLES}

    def _oracle_json(self, name: str) -> str:
        return os.path.join(self.work, f"oracle-{name}.json")

    def join_oracles(self) -> None:
        procs, self._oracle_procs = self._oracle_procs, {}
        for p in procs.values():
            p.wait()
        for name, p in procs.items():
            if p.returncode != 0:
                raise RuntimeError(f"{name} oracle exited with {p.returncode}")
            with open(self._oracle_json(name)) as f:
                setattr(self.exp, name, _rows(json.load(f)))

    def close(self) -> None:
        procs, self._oracle_procs = self._oracle_procs, {}
        for p in procs.values():
            p.kill()
            p.wait()

    def bind(self, spark) -> None:
        self.spark = spark
        self.docs_df = spark.read.parquet(self.docs)
        self.emb_df = spark.read.parquet(self.emb)

    def warm(self) -> None:
        """One pass over a small corpus: compiles every plan of a pass."""
        docs, emb = self.docs_df, self.emb_df
        self.docs_df, self.emb_df = (self.spark.read.parquet(d)
                                     for d in self.warm_dirs)
        tracer = Tracer()
        try:
            with tracer.span("warm", 0) as span:
                self.run_pass(tracer, span)
        finally:
            self.docs_df, self.emb_df = docs, emb

    def run_pass(self, tracer: Tracer, parent: Span):
        from logstash_codec_protobuf_spark import cache
        from logstash_codec_protobuf_spark.operators import dedup as DD
        from logstash_codec_protobuf_spark.operators import similarity as SIM

        out = {}
        for key, span, call in (
            ("jaccard", "dedup.ngram_jaccard",
             lambda: DD.ngram_jaccard_pairs(self.docs_df, threshold=0.5)),
            ("clusters", "dedup.clusters_star",
             lambda: DD.dedup_clusters_star(self.docs_df)),
            ("neardup", "similarity.neardup",
             lambda: SIM.neardup_pairs(self.emb_df, threshold=0.9)),
        ):
            cache.release_tracked()
            with tracer.span(span, parent.trace):
                out[key] = _rows(call().collect())
        cache.release_tracked()
        self.last = out
        return out

    def check(self, res) -> list[str]:
        e, bad = self.exp, []
        for key, want in (("jaccard", e.jaccard_pairs),
                          ("clusters", e.clusters),
                          ("neardup", e.neardup_pairs)):
            if res[key] != want:
                bad.append(f"{key}: {len(res[key] ^ want)} rows differ "
                           "from the DuckDB oracle")
        return bad

    def probe(self, tracer: Tracer, trace: int) -> None:
        from logstash_codec_protobuf_spark import cache
        from logstash_codec_protobuf_spark.operators import dedup as DD

        docs = self.docs_df
        bands = DD.minhash_bands(docs)
        with tracer.span("probe.minhash_bands", trace):
            _noop(bands)
        counts = {}
        for key, build in (
            ("dedup.candidate_pairs", lambda: DD.minhash_pairs(docs)),
            ("dedup.oversize_buckets",
             lambda: DD.minhash_oversize_buckets(docs)),
            ("dedup.star_edges", lambda: DD.minhash_star_edges(docs)),
        ):
            counts[key] = build().count()
            cache.release_tracked()
        self.counts = counts

    def layers(self, tracer: Tracer, passes: list[Span], log: EventLog
               ) -> dict[str, float]:
        def dur(name):
            return _med(_durs(tracer, name))

        clusters = [x for x in tracer.spans if x.name == "dedup.clusters_star"]
        out = dict(self.counts)
        out["dedup.fingerprint_s"] = dur("probe.minhash_bands")
        out["dedup.verified_pairs"] = len(self.last["jaccard"])
        out["dedup.verify_yield"] = (out["dedup.verified_pairs"]
                                     / max(1, out["dedup.candidate_pairs"]))
        out["dedup.clusters_s"] = dur("dedup.clusters_star")
        out["dedup.cluster_jobs"] = _med([len(log.jobs_in(c.start, c.end))
                                          for c in clusters])
        out["similarity.neardup_s"] = dur("similarity.neardup")
        out["similarity.neardup_pairs"] = len(self.last["neardup"])
        return out


# ---------------------------------------------------------------------------
# codec_dedup: the two Python-boundary tiers in one pass
# ---------------------------------------------------------------------------

class CodecDedup:
    """A wire-codec pass (decode, then encode) followed by a dedup pass. The
    two share no layer with ingest_fanout; they run in one workload so that
    the benchmark's runs fit its time budget (see README.md)."""

    name = "codec_dedup"

    def __init__(self, work: str) -> None:
        self.wire, self.dedup = WireCodec(work), DedupCorpus(work)
        self.parts = (self.wire, self.dedup)

    def generate(self, seed: int) -> None:
        for p in self.parts:
            p.generate(seed)

    def start_oracles(self) -> None:
        self.dedup.start_oracles()

    def join_oracles(self) -> None:
        self.dedup.join_oracles()

    def close(self) -> None:
        self.dedup.close()

    def bind(self, spark) -> None:
        for p in self.parts:
            p.bind(spark)

    def warm(self) -> None:
        for p in self.parts:
            p.warm()

    def run_pass(self, tracer: Tracer, parent: Span):
        return tuple(p.run_pass(tracer, parent) for p in self.parts)

    def check(self, res) -> list[str]:
        return [m for p, r in zip(self.parts, res) for m in p.check(r)]

    def probe(self, tracer: Tracer, trace: int) -> None:
        for p in self.parts:
            p.probe(tracer, trace)

    def layers(self, tracer: Tracer, passes: list[Span], log: EventLog
               ) -> dict[str, float]:
        return {k: v for p in self.parts
                for k, v in p.layers(tracer, passes, log).items()}

    def info(self, tracer: Tracer) -> dict[str, tuple[float, str]]:
        dedup_s = [a + b + c for a, b, c in zip(
            _durs(tracer, "dedup.ngram_jaccard"),
            _durs(tracer, "dedup.clusters_star"),
            _durs(tracer, "similarity.neardup"))]
        return {
            "decode_msgs_per_s": (WIRE_DECODE_MSGS / _med(
                _durs(tracer, "pb_wire.decode")), "1/s"),
            "encode_msgs_per_s": (WIRE_ENCODE_MSGS / _med(
                _durs(tracer, "pb_wire.encode")), "1/s"),
            "docs_per_s": (self.dedup.exp.n_docs / _med(dedup_s), "1/s"),
        }


WORKLOADS = {w.name: w for w in (IngestFanout, CodecDedup)}


if __name__ == "__main__":
    dedup_oracle(*sys.argv[1:])  # one oracle, as DedupCorpus starts it
