"""Round-7 A/B: nested wire decode, Arrow walker vs recursive JVM Row path.

The round-6 jvm_dynamic A/B covered flat turn_wire only; round 7 extends the
JVM harness to repeated submessages and proto3 maps, so this prices exactly
those shapes: the DNS repeated-nested-question fixture and the contact
map<string,int32> fixture, stored-payload decode (scan -> decode -> consume,
the at-scale ingest shape), payloads staged once and replicated so decode
work dominates task fixed costs.

Writes BENCH/jvm_wire_decode_r7.md.  Usage: python BENCH/jvm_nested_ab_r7.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import make_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL = int(os.environ.get("SPARK_GRAFT_AB_REPL", "10"))
N_AB = int(os.environ.get("SPARK_GRAFT_AB_N", "5"))


def _timed(fn):
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    from pyspark.sql import functions as F

    from logstash_codec_protobuf_spark.operators import pb_wire as PW

    spark = make_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    stage = tempfile.mkdtemp(prefix="bench_jvmnested_")
    try:
        ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        reps = F.explode(F.sequence(F.lit(0), F.lit(REPL - 1))).alias("_r")
        base = ev.select(F.col("event_id"), reps).select(
            (F.col("event_id") * REPL + F.col("_r")).alias("event_id"))

        from logstash_codec_protobuf_spark.queries import _dns_questions_msg

        e = F.col("event_id")
        PW.wire_encode(base, _dns_questions_msg(e), "dns_message") \
            .select("payload").repartition(64).write.mode("overwrite") \
            .parquet(f"{stage}/dns")
        contact = F.struct(
            F.concat(F.lit("c"), e.cast("string")).alias("name"),
            F.create_map(F.lit("home"), (e % 1000).cast("int"),
                         F.lit("work"), (e % 97).cast("int"))
            .alias("phone_numbers"))
        PW.wire_encode(base, contact, "contact") \
            .select("payload").repartition(64).write.mode("overwrite") \
            .parquet(f"{stage}/contact")

        dns_pay = spark.read.parquet(f"{stage}/dns")
        con_pay = spark.read.parquet(f"{stage}/contact")
        n_dns = dns_pay.count()
        n_con = con_pay.count()

        def dns_case(impl):
            def run():
                d = F.col("decoded")
                PW.decode_message_wire(dns_pay, "dns_message", impl=impl) \
                    .select(F.posexplode(d["question"]).alias("pos", "q"),
                            d["error"].alias("e")) \
                    .selectExpr("sum(q.qtype + q.qclass + length(q.name))",
                                "count_if(e is not null)",
                                "count(1)").collect()
            return run

        def con_case(impl):
            def run():
                d = F.col("decoded")
                PW.decode_message_wire(con_pay, "contact", impl=impl) \
                    .select(F.explode(d["phone_numbers"]).alias("ph"),
                            d["error"].alias("e")) \
                    .selectExpr("sum(ph.value + length(ph.key))",
                                "count_if(e is not null)",
                                "count(1)").collect()
            return run

        cases = {
            "dns_arrow": dns_case("arrow"),
            "dns_jvm_dynamic": dns_case("jvm_dynamic"),
            "contact_arrow": con_case("arrow"),
            "contact_jvm_dynamic": con_case("jvm_dynamic"),
        }
        for fn in cases.values():  # warm codegen + ADD JAR + worker pool
            fn()
        best: dict[str, float] = {}
        for _ in range(N_AB):  # interleaved, min kept
            for name, fn in cases.items():
                t = _timed(fn)
                best[name] = min(best.get(name, 1e9), t)

        dns_speed = best["dns_arrow"] / best["dns_jvm_dynamic"]
        con_speed = best["contact_arrow"] / best["contact_jvm_dynamic"]
        md = f"""# JVM wire decode A/B — round 7 (nested shapes)

Round 6 priced the flat turn_wire path (jvm_dynamic 2.9x arrow on stored
payloads). Round 7 extends `WireDecodeRow` to repeated submessages and
proto3 maps; this A/B prices those exact shapes on stored payloads
(scan -> decode -> explode -> consume), {REPL}x-replicated sf events,
min over {N_AB} interleaved warm rounds at local[32].

| case | rows | arrow sec | jvm_dynamic sec | speedup |
| --- | --- | --- | --- | --- |
| dns repeated nested questions | {n_dns:,} | {best['dns_arrow']:.2f} | {best['dns_jvm_dynamic']:.2f} | {dns_speed:.2f}x |
| contact map<string,int32> | {n_con:,} | {best['contact_arrow']:.2f} | {best['contact_jvm_dynamic']:.2f} | {con_speed:.2f}x |

Both decode impls share their DuckDB oracles verbatim
(`pb_wire_repeated_message_jvmdyn`, `pb_wire_map_entries_jvmdyn`); the
Arrow twin remains the fallback for recursive type graphs.
"""
        with open("BENCH/jvm_wire_decode_r7.md", "w") as f:
            f.write(md)
        print(md)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
