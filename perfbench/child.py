"""Measurement child: one fresh Spark session at local[4] in its own process.

Modes (run.py launches them; each prints one ``PERFBENCH_RESULT {json}``
line on stdout):

- ``measure`` set-up (package imports and ``session.get_spark``; its time
              is ``setup_s``), then the untimed warm phase (the AES-256 KDF
              pre-pass, WARM_PASSES passes over one input file and the
              oracle-check pass), then timed passes for ``--seconds`` (at least MIN_PASSES), the
              oracle check and the process-tree peak memory. End-to-end
              numbers, tracing off.
- ``ledger``  the traced run: set-up and the same warm phase, then spans
              around the benchmark's own calls into each layer's public
              functions: the traced pass, the production job path, stage
              by stage over materialized inputs, and off-Spark kernel
              timings. The spans go to ``--trace-out``.

Usage: python3 perfbench/child.py MODE --workload NAME --input DIR --work DIR
       [--seed N] [--seconds S] [--size full|tiny] [--trace-out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, sized  # noqa: E402

CORES = 4
NUM_PARTITIONS = 2 * CORES  # the flagship's extract_pipeline(..., num_partitions=8)
# The JVM's share of a pass falls for about ten passes in a fresh JVM (JIT
# compilation; Spark generates and loads new classes for every query), by
# the number of passes far more than by their size. So the warm phase runs
# WARM_PASSES passes over one input file, a quarter of the cost of full ones.
WARM_PASSES = 6
WARM_FILE = "part-001.parquet"  # part-000 holds only the skew conversation
MIN_PASSES = 3  # timed passes per run, whatever --seconds says
JOB_BUCKETS = 8
JOB_GROUP_SIZE = 4
RUN_GROUP = "bench"
STAGES = ("scan", "repartition", "extract_stage", "ordering", "fields", "classify")


# ---------------------------------------------------------------- session


def start_session(work: str, ui: bool, tracer: Tracer):
    from pdf_extraction_ai_agent_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # size the JVM's pools as a true 4-core executor would be sized
        "spark.driver.extraJavaOptions":
            f"-XX:ActiveProcessorCount={CORES} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads stage and task numbers from the UI REST API
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
    }
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=NUM_PARTITIONS, extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------- passes


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> dict:
    """CPU seconds (user + system) spent so far by the processes of this
    process's session: the JVM (``jvm``) and the python ones (``python``:
    this process and the JVM's python workers, the exited and reaped ones
    included). Time the hypervisor stole from the VM is not CPU time of any
    process, so unlike a wall time this does not grow when other tenants
    load the host."""
    sid = os.getsid(0)
    ticks = {"jvm": 0, "python": 0}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        # fields 3 and 11-14 of stat: session id; utime, stime, cutime, cstime
        if int(fields[3]) == sid:
            kind = "jvm" if comm.endswith("(java") else "python"
            ticks[kind] += sum(int(x) for x in fields[11:15])
    return {k: v / _CLK_TCK for k, v in ticks.items()}


def steal_s() -> float:
    """CPU time the hypervisor has stolen from the machine, summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def pipeline_pass(transcripts, **plan_kw) -> dict:
    """extract_pipeline + the aggregate that forces every column
    (scripts/bench_extract_child.py's); turns and errors come from the
    pipeline's own observed metrics."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    obs = Observation("perfbench")
    cpu0, steal0 = session_cpu_s(), steal_s()
    t0 = time.monotonic()
    out = extract_pipeline(transcripts, observation=obs, **plan_kw)
    row = out.agg(
        F.sum(F.length("extracted_text")),
        F.sum(F.size("spans")),
        F.count(F.when(F.col("needs_ocr"), 1)),
        F.count("claim_number"),
        F.count("lob"),
    ).collect()[0]
    wall = time.monotonic() - t0
    cpu1, steal = session_cpu_s(), steal_s() - steal0
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
    m = obs.get
    return {"wall": wall, "cpu": sum(cpu.values()), "cpu_jvm": cpu["jvm"], "steal": steal,
            "turns": int(m["turns"]),
            "errors": int(m["error_turns"]), "digest": [int(v or 0) for v in row]}


def job_pass(spark, src: str, out_root: str, tracer: Tracer) -> dict:
    """The production job path into empty directories, in the order
    jobs/run_extraction.py uses, each phase in its own Spark job group."""
    from pdf_extraction_ai_agent_spark.plans.lineage import (
        cached_max_conv_rows,
        run_with_lineage,
    )
    from pdf_extraction_ai_agent_spark.plans.pipeline import (
        extract_pipeline,
        precompute_kdf_seed,
    )

    out = os.path.join(out_root, "out")
    lin = os.path.join(out_root, "lineage")
    for d in (out, lin):
        shutil.rmtree(d, ignore_errors=True)

    def build(df):
        with tracer.span("lineage.build"):
            return extract_pipeline(df, salt_buckets="auto", max_conv_rows=mx,
                                    kdf_seed=kdf or False)

    spark.sparkContext.setJobGroup("lineage.prep", "lineage.prep")
    transcripts = spark.read.parquet(src)
    with tracer.span("lineage.max_conv_rows"):
        mx = cached_max_conv_rows(spark, transcripts, lin, run_group=RUN_GROUP)
    with tracer.span("pipeline.kdf_seed"):
        kdf = precompute_kdf_seed(transcripts)
    spark.sparkContext.setJobGroup("lineage.run", "lineage.run")
    with tracer.span("lineage.run"):
        metrics = run_with_lineage(
            spark, transcripts, build, out_path=out, lineage_path=lin,
            run_group=RUN_GROUP, n_buckets=JOB_BUCKETS,
            bucket_group_size=JOB_GROUP_SIZE,
        )
    groups = metrics["groups"]
    return {"turns": sum(g["rows"] for g in groups),
            "errors": sum(g["errors"] for g in groups),
            "group_walls": [g["wall_ms"] / 1000 for g in groups],
            "out": out}


def sink_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


# ---------------------------------------------------------------- oracle


def sampled_rows(spark, output, sample: list[dict]) -> list:
    """The sampled turns' rows of ``output`` (broadcast join on the key)."""
    from pyspark.sql import functions as F

    keys = spark.createDataFrame(
        [(s["conv_id"], s["turn_idx"], s["ts"]) for s in sample],
        "conv_id string, turn_idx int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return output.join(F.broadcast(keys), ["conv_id", "turn_idx", "ts"]).select(
        "conv_id", "turn_idx", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
        "extracted_text", "spans", "needs_ocr", "payload_kind", "error").collect()


def oracle_check(rows: list, sample: list[dict]) -> dict:
    """Compare sampled output rows with their oracle.extract_turn results
    (computed at input generation): text, spans, needs_ocr, payload_kind,
    and no error. A sampled turn missing from the output is a mismatch."""
    got = {(r["conv_id"], r["turn_idx"], r["ts"]): r for r in rows}

    def norm(spans):
        return [(s["field"], int(s["start"]), int(s["end"]), s["value"]) for s in spans or []]

    bad = []
    for s in sample:
        r, exp = got.get((s["conv_id"], s["turn_idx"], s["ts"])), s["expected"]
        if not (
            r is not None
            and r["error"] is None
            and r["extracted_text"] == exp["extracted_text"]
            and norm(r["spans"]) == norm(exp["spans"])
            and r["needs_ocr"] == exp["needs_ocr"]
            and r["payload_kind"] == exp["payload_kind"]
        ):
            bad.append(f"{s['conv_id']}/{s['turn_idx']}")
    return {"checked": len(sample), "mismatches": len(bad) + len(rows) - len(got),
            "first": bad[:5], "kinds": sorted({s["kind"] for s in sample})}


# ---------------------------------------------------------------- ledger


def _rest(spark, path: str):
    import urllib.request

    url = spark.sparkContext.uiWebUrl.rstrip("/")
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.loads(r.read())


def _completed_stages(spark, groups: list[str]) -> list[dict]:
    """REST records of the stages that ran in these job groups (skipped
    stages have none). The status store fills asynchronously, so poll."""
    st = spark.sparkContext.statusTracker()
    want = set()
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            info = st.getJobInfo(j)
            if info is not None:
                want.update(info.stageIds)
    deadline = time.monotonic() + 20
    while True:
        stages = [s for s in _rest(spark, "stages") if s["stageId"] in want]
        done = all(s["status"] in ("COMPLETE", "SKIPPED") for s in stages)
        if done or time.monotonic() > deadline:
            return [s for s in stages if s["status"] == "COMPLETE"]
        time.sleep(0.2)


def _cached(df):
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def stage_ledger(spark, transcripts, tracer: Tracer, plan: dict) -> dict:
    """Time each stage's public function over a materialized copy of its own
    input with a noop sink, in the order plans/pipeline.py chains them."""
    from pyspark.sql import functions as F

    from pdf_extraction_ai_agent_spark.functions.fields import with_parsed_fields
    from pdf_extraction_ai_agent_spark.operators.classify import classify_lob_c1, classify_lobs_c2
    from pdf_extraction_ai_agent_spark.operators.extract import with_extraction
    from pdf_extraction_ai_agent_spark.operators.ordering import with_turn_pos
    from pdf_extraction_ai_agent_spark.plans.pipeline import salted_repartition

    steps = {
        "scan": lambda d: d.select("conv_id", "turn_idx", "ts", "text", "tool"),
        "repartition": lambda d: salted_repartition(d, plan["num_partitions"], plan["salt"]),
        "extract_stage": lambda d: with_extraction(d, kdf_seed=plan["kdf"] or None)
                                   .drop("text", "tool"),
        "ordering": lambda d: with_turn_pos(d, bucket_width=plan["bucket_width"]),
        "fields": lambda d: with_parsed_fields(d, "extracted_text"),
        "classify": lambda d: d.withColumn("lob", classify_lob_c1(F.col("extracted_text")))
                               .withColumn("lobs", classify_lobs_c2(F.col("extracted_text"))),
    }
    out = {}
    cur = transcripts
    with tracer.span("ledger.stages"):
        for name in STAGES:
            df = steps[name](cur)
            spark.sparkContext.setJobGroup(f"ledger.{name}", name)
            with tracer.span(name) as sp:
                df.write.format("noop").mode("overwrite").save()
            out[name] = sp["end"] - sp["start"]
            if name != STAGES[-1]:
                with tracer.span(f"materialize.{name}"):
                    nxt = _cached(df)
                if cur is not transcripts:
                    cur.unpersist()
                cur = nxt
        cur.unpersist()
    stats = []
    for s in _completed_stages(spark, ["ledger.extract_stage"]):
        q = _rest(spark, f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        stats.append((s["numCompleteTasks"], q["executorRunTime"]))
    n_tasks, (med, mx) = max(stats)
    out["extract_stage.tasks"] = n_tasks
    out["extract_stage.task_skew"] = mx / med if med else 0.0
    return out


def kernel_rows(spark, transcripts, seed: int, n: int) -> dict:
    """A seeded sample of the workload's own rows, and a per-kind sample
    drawn with real PDFs, so every kind has a kernel time on every workload."""
    import pandas as pd

    from pdf_extraction_ai_agent_spark.fixtures.transcripts import conv_rows
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import sniff_payload_kind

    total = transcripts.count()
    own = (transcripts.sample(fraction=min(1.0, 2.0 * n / total), seed=seed)
           .select("text", "tool").limit(n).toPandas())
    rows: list[dict] = []
    i = 0
    while len(rows) < n:
        rows.extend(conv_rows(i + 1, random.Random(seed * 7919 + i), False, 0, True))
        i += 1
    kinds = pd.DataFrame(rows[:n])
    kinds["kind"] = [sniff_payload_kind(t, o) for t, o in zip(kinds["text"], kinds["tool"])]
    return {"own": own, "kinds": kinds}


def kernel_bench(rows: dict, tracer: Tracer) -> dict:
    """Off-Spark kernel timings: extract_turn_batch in batches of
    session.ARROW_MAX_RECORDS_PER_BATCH rows, median of 3 after a warm-up
    round (which also fills the per-process KDF cache)."""
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
        extract_turn_batch,
    )
    from pdf_extraction_ai_agent_spark.session import ARROW_MAX_RECORDS_PER_BATCH as B

    def us_per_item(n, fn) -> float:
        walls = []
        for _ in range(4):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls[1:]) / max(n, 1) * 1e6

    def kernel_us(df, with_spans=True) -> float:
        def batches():
            for i in range(0, len(df), B):
                extract_turn_batch(df["text"].iloc[i:i + B], df["tool"].iloc[i:i + B],
                                   with_spans=with_spans)
        return us_per_item(len(df), batches)

    out = {}
    own, kinds = rows["own"], rows["kinds"]
    with tracer.span("ledger.kernel"):
        out["extract.kernel_us_per_turn"] = kernel_us(own)
        out["extract.spans_us_per_turn"] = (
            out["extract.kernel_us_per_turn"] - kernel_us(own, with_spans=False))
        for k in ("plain", "html", "pdf", "pdf_real"):
            out[f"extract.kernel_us_per_turn.{k}"] = kernel_us(
                kinds[kinds["kind"] == k].reset_index(drop=True))
        docs = list(kinds.loc[kinds["kind"] == "pdf_real", "text"])
        out["pdftext.us_per_doc"] = us_per_item(
            len(docs), lambda: [extract_real_pdf_text(d) for d in docs])
    return out


def ledger(spark, transcripts, src: str, args, tracer: Tracer, n_rows: int,
           plan_kw: dict) -> dict:
    """The traced run's per-layer numbers."""
    from pdf_extraction_ai_agent_spark.operators.ordering import DEFAULT_TURN_BUCKET_WIDTH
    from pdf_extraction_ai_agent_spark.plans.pipeline import (
        DEFAULT_SALT_BUCKETS,
        extract_pipeline,
    )

    out: dict = {}
    with tracer.span("registry.import"):
        import __spark_entry__

        __spark_entry__.queries()
    out["session.get_spark_s"] = tracer.duration("session.get_spark")
    out["registry.import_s"] = tracer.duration("registry.import")

    # the workload's own pass, untraced then traced (spans, job groups and
    # REST reads); the difference is the tracing overhead
    with tracer.paused():
        untraced = pipeline_pass(transcripts, **plan_kw)
    bare = untraced["wall"]
    out["pass.turns_per_s"] = untraced["turns"] / bare
    spark.sparkContext.setJobGroup("traced.pass", "traced.pass")
    with tracer.span("traced.pass") as sp:
        pipeline_pass(transcripts, **plan_kw)
    out["trace.overhead_s"] = (sp["end"] - sp["start"]) - bare
    out["exchange.shuffle_write_bytes"] = sum(
        s["shuffleWriteBytes"] for s in _completed_stages(spark, ["traced.pass"]))

    # the production job path over the same input (writes)
    job = job_pass(spark, src, os.path.join(args.work, "job"), tracer)
    walls = job["group_walls"]
    out["lineage.max_conv_rows_s"] = tracer.duration("lineage.max_conv_rows")
    out["pipeline.kdf_seed_s"] = tracer.duration("pipeline.kdf_seed")
    out["lineage.group_wall_s.max"] = max(walls)
    out["lineage.group_wall_s.median"] = statistics.median(walls)
    run_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("lineage.run")
    out["lineage.jobs_per_group"] = len(run_jobs) / len(walls)
    out["lineage.build_s"] = tracer.duration("lineage.build")
    out["sink.files"], out["sink.bytes"] = sink_stats(job["out"])
    out["sink.bytes_per_turn"] = out["sink.bytes"] / job["turns"]

    # stage by stage, in the flagship's configuration
    with tracer.span("pipeline.build") as sp:
        extract_pipeline(transcripts, **plan_kw)
    out["pipeline.build_s"] = sp["end"] - sp["start"]
    plan = {"num_partitions": NUM_PARTITIONS, "salt": DEFAULT_SALT_BUCKETS,
            "kdf": plan_kw["kdf_seed"], "bucket_width": DEFAULT_TURN_BUCKET_WIDTH}
    stages = stage_ledger(spark, transcripts, tracer, plan)
    for k in STAGES:
        out[f"{k}.s"] = stages.pop(k)
    out.update(stages)
    out["unattributed_s"] = bare - out["pipeline.build_s"] - sum(out[f"{k}.s"] for k in STAGES)

    rows = kernel_rows(spark, transcripts, args.seed, 2048 if args.size == "full" else 128)
    out.update(kernel_bench(rows, tracer))
    out["extract.kernel_share"] = out["extract.kernel_us_per_turn"] * 1e-6 * n_rows / (CORES * bare)
    out["_job"] = job
    return out


# ---------------------------------------------------------------- modes


def run(mode: str, args) -> dict:
    from pdf_extraction_ai_agent_spark.plans.pipeline import (
        extract_pipeline,
        precompute_kdf_seed,
    )

    t_launch = float(os.environ.get("PERFBENCH_T0", time.time()))
    w = sized(WORKLOADS[args.workload], args.size)
    tracer = Tracer(enabled=(mode == "ledger"))
    src = os.path.join(args.input, "transcripts")
    with open(os.path.join(args.input, "sample.json")) as f:
        meta = json.load(f)

    with tracer.span("setup"):
        with tracer.span("imports"):
            from pdf_extraction_ai_agent_spark.plans import pipeline  # noqa: F401
        spark = start_session(args.work, ui=(mode == "ledger"), tracer=tracer)
    res = {"mode": mode, "setup_s": time.time() - t_launch, "rows": meta["rows"]}
    transcripts = spark.read.parquet(src)

    # warm phase, untimed. The KDF map is derived once for the whole input,
    # as the production job does: without it every python worker re-derives
    # ~1 s of KDF per AES-256 document it meets for the first time, which
    # makes pass times depend on which worker gets which partition. Then
    # WARM_PASSES passes over one input file, and last the oracle-check
    # pass over the full input, which takes the extra cost of the first
    # full-size pass.
    with tracer.span("warm"), tracer.paused():
        t0 = time.monotonic()
        plan_kw = {"num_partitions": NUM_PARTITIONS,
                   "kdf_seed": precompute_kdf_seed(transcripts) or None}
        t1 = time.monotonic()
        part = spark.read.parquet(os.path.join(src, WARM_FILE))
        warm = [pipeline_pass(part, **plan_kw) for _ in range(WARM_PASSES)]
        t2 = time.monotonic()
        checked = sampled_rows(spark, extract_pipeline(transcripts, **plan_kw), meta["sample"])
        t3 = time.monotonic()
    res["warm"] = {"kdf_seed_s": t1 - t0, "check_pass_s": t3 - t2,
                   "passes": [p["wall"] for p in warm], "pass_cpu": [p["cpu"] for p in warm]}
    res["warm.first_pass_s"] = warm[0]["wall"]

    if mode == "measure":
        passes = []
        t0 = time.monotonic()
        while len(passes) < MIN_PASSES or time.monotonic() - t0 < args.seconds:
            passes.append(pipeline_pass(transcripts, **plan_kw))
        res["passes"] = [p["wall"] for p in passes]
        res["pass_cpu"] = [p["cpu"] for p in passes]
        res["pass_cpu_jvm"] = [p["cpu_jvm"] for p in passes]
        res["pass_steal"] = [p["steal"] for p in passes]
        res["turns"] = [p["turns"] for p in passes]
        res["errors"] = [p["errors"] for p in passes]
        res["digests"] = [p["digest"] for p in passes]
        outputs = {"pipeline": checked}
    else:
        res.update(ledger(spark, transcripts, src, args, tracer, meta["rows"], plan_kw))
        job = res.pop("_job")
        res["job_errors"] = job["errors"]
        with tracer.span("oracle_check"):
            # what the job committed
            committed = spark.read.parquet(job["out"])
            res["committed_rows"] = committed.count()
            outputs = {"pipeline": checked, "job": sampled_rows(spark, committed, meta["sample"])}

    checks = {k: oracle_check(rows, meta["sample"]) for k, rows in outputs.items()}
    res["check"] = {
        "checked": sum(c["checked"] for c in checks.values()),
        "mismatches": sum(c["mismatches"] for c in checks.values()),
        "first": [f"{k}:{b}" for k, c in checks.items() for b in c["first"]][:5],
        "kinds": checks["pipeline"]["kinds"],
    }

    from scripts.bench_extract_child import _proc_tree_peak_mb

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    res["memory"] = _proc_tree_peak_mb(jvm_pid)
    if args.trace_out:
        tracer.dump(args.trace_out, workload=w.name, input=args.input)
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["measure", "ledger"])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    ap.add_argument("--trace-out")
    args = ap.parse_args()
    res = run(args.mode, args)
    print("PERFBENCH_RESULT " + json.dumps(res), flush=True)
    # no orderly Spark shutdown: run.py stops and waits for every process
    # of this session (the JVM and its python workers) once this one exits
    os._exit(0)


if __name__ == "__main__":
    main()
