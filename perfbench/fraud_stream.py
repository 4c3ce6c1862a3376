"""Open-loop fraud scoring: the reference pipeline's score leg as a stream.

Set-up runs the reference prepare -> ``ml.train`` -> save/load. A single
generator thread then drops pre-rendered JSON files of credit-card events
into a file-stream source on a fixed schedule, first at a low rate and
then at a high one, whether or not the stream keeps up. The stream runs
``readStream -> ml.score -> ml.prediction_envelope`` into a checkpointed
parquet sink, reading at most ``MAX_FILES_PER_BATCH`` files per micro-batch.
A final drain phase publishes a backlog of ``BACKLOG`` files at once: ten
full micro-batches of ``MAX_FILES_PER_BATCH`` files. The workload's
throughput is the median over those batches of events per second of
trigger time, a rate the engine alone sets at a fixed batch size; the
scheduled phases run at the generator's pace as long as the stream keeps
up, so their throughput would only tell that it did.

A file's latency runs from its scheduled creation to the commit of the
micro-batch that read it: batch ids per file come from the file source's
checkpoint log, commit times from the query's progress reports.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import threading
import time

import numpy as np

import gen
import spark_log

# (files per second, events per file, share of --seconds) of the two
# scheduled phases; the high phase, whose latency is the end-to-end metric,
# gets the larger share and runs after the low phase has warmed the stream
LOW = (5, 100, 0.4)  # 500 events/s
HIGH = (10, 400, 0.6)  # 4000 events/s
# files, events per file: 80000 events at once, ten full micro-batches
BACKLOG = (200, 400)
# twice the high phase's files per second: the stream only queues files
# once a micro-batch takes longer than 2 s, so a slow stretch of a shared
# machine lengthens latency in proportion instead of building a backlog
MAX_FILES_PER_BATCH = 20
# rows synthesised per set-up; the reference forest (100 trees, depth 10)
# trains on them in ~3 s warm, which keeps two set-ups within a run budget
TRAIN_ROWS = 1000


def _schedule(rng, seconds: float) -> tuple[list[dict], list[dict]]:
    files, backlog, first = [], [], 0
    offset = 0.0
    for phase, (fps, n, share) in (("low", LOW), ("high", HIGH)):
        for _ in range(max(1, round(seconds * share * fps))):
            files.append({"phase": phase, "offset": offset, "n": n,
                          "text": gen.card_events(rng, first, n)})
            first += n
            offset += 1.0 / fps
    for _ in range(BACKLOG[0]):
        backlog.append({"phase": "drain", "n": BACKLOG[1],
                        "text": gen.card_events(rng, first, BACKLOG[1])})
        first += BACKLOG[1]
    for i, f in enumerate(files + backlog):
        f["name"] = f"part-{i:05d}.json"
    return files, backlog


def _stage(in_dir: str, f: dict) -> None:
    """Write under a hidden name, which the file source skips."""
    with open(os.path.join(in_dir, "." + f["name"]), "w") as fh:
        fh.write(f["text"])


def _publish(in_dir: str, f: dict) -> None:
    """Rename a staged file into view: the source sees whole files only."""
    os.rename(os.path.join(in_dir, "." + f["name"]), os.path.join(in_dir, f["name"]))
    f["written"] = time.time()


def _drop(in_dir: str, f: dict) -> None:
    _stage(in_dir, f)
    _publish(in_dir, f)


def _generate(in_dir: str, files: list[dict], t0: float) -> None:
    for f in files:
        f["sched"] = t0 + f["offset"]
        delay = f["sched"] - time.time()
        if delay > 0:
            time.sleep(delay)
        _drop(in_dir, f)


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    (compacted entries keep every file with its batch id)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _batches(progress: list[dict]) -> dict[int, dict]:
    """Executed micro-batches by id (idle progress reports dropped)."""
    return {p["batchId"]: p for p in progress if "addBatch" in p["durationMs"]}


def _commit_time(p: dict) -> float:
    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1e3


def _progress_json(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Recorder()


def run(ctx, workload: str) -> dict:
    from final_project_big_data_spark.ml import pipeline as ml
    from final_project_big_data_spark.schemas import CREDIT_CARD

    rng = np.random.default_rng(ctx.seed)
    with ctx.phase("gen"):
        files, backlog = _schedule(rng, ctx.seconds)
    layers: dict[str, float] = {}

    train_path = ctx.path("train.parquet")
    model_path = ctx.path("model")
    steps: dict[str, list[float]] = {"ml.prepare_s": [], "ml.train_s": [],
                                     "ml.save_load_s": []}
    holder = {}

    def ready(spark) -> None:
        # the reference prepare -> train -> save/load, on seeded rows
        t = time.perf_counter()
        raw = ml.synth_creditcard(spark, n_rows=TRAIN_ROWS, seed=ctx.seed)
        sampled = ml.stratified_sample(raw, n_target=TRAIN_ROWS // 2, seed=ctx.seed)
        train_df, _ = ml.stratified_split(sampled, seed=ctx.seed)
        train_df.write.mode("overwrite").parquet(train_path)
        t1 = time.perf_counter()
        model = ml.train(spark.read.parquet(train_path))
        t2 = time.perf_counter()
        ml.save_model(model, model_path)
        holder["model"] = ml.load_model(model_path)
        t3 = time.perf_counter()
        steps["ml.prepare_s"].append(t1 - t)
        steps["ml.train_s"].append(t2 - t1)
        steps["ml.save_load_s"].append(t3 - t2)

    conf = {"spark.sql.streaming.numRecentProgressUpdates": "100000"}
    spark, setup_s = ctx.setup(ready, shuffle_partitions=ctx.cores, conf=conf)
    for k, v in steps.items():
        layers[k] = float(np.median(v))
    model = holder["model"]

    in_dir, sink = ctx.path("stream_in"), ctx.path("stream_out")
    checkpoint = ctx.path("checkpoint")
    os.makedirs(in_dir)
    heard: list[dict] = []
    if ctx.trace:
        spark.streams.addListener(_listener(heard))
    stream = (spark.readStream.schema(CREDIT_CARD)
              .option("maxFilesPerTrigger", MAX_FILES_PER_BATCH).json(in_dir))
    query = (
        ml.prediction_envelope(ml.score(model, stream))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
    t0 = time.time() + 0.5
    with ctx.phase("window"):
        producer = threading.Thread(target=_generate, args=(in_dir, files, t0))
        producer.start()
        producer.join()
        t_high_end = files[-1]["sched"] + 1.0 / HIGH[0]
        query.processAllAvailable()
    for f in backlog:
        _stage(in_dir, f)
    with ctx.phase("drain"):
        t_drain = time.time()
        for f in backlog:
            _publish(in_dir, f)
            f["sched"] = t_drain
        query.processAllAvailable()
        drain_s = time.time() - t_drain
    t_end = time.time()
    progress = [_progress_json(p) for p in query.recentProgress]
    query.stop()

    file_batch = _file_batches(checkpoint)
    batches = _batches(progress)
    committed = {b: _commit_time(p) for b, p in batches.items()}
    lat: dict[str, list[float]] = {"low": [], "high": [], "drain": []}
    lost = 0
    for f in files + backlog:
        b = file_batch.get(f["name"])
        if b is None or b not in committed:
            lost += f["n"]
            continue
        f["commit"] = committed[b]
        lat[f["phase"]].append(f["commit"] - f["sched"])

    # correctness: every generated event exactly once, scored like a batch
    n_events = sum(f["n"] for f in files + backlog)
    with ctx.phase("check"):
        out = spark.read.parquet(sink).toPandas()
        batch = ml.prediction_envelope(
            ml.score(model, spark.read.schema(CREDIT_CARD).json(in_dir))).toPandas()
        n_out = len(out)
        n_distinct = out["Time"].nunique()
        both = out.merge(batch, on="Time", how="outer", suffixes=("", "_batch"),
                         indicator=True)
        unlike = both["_merge"] != "both"
        for col in ("Amount", "actual_label", "predicted_label"):
            unlike |= both[col] != both[col + "_batch"]
        n_diff = int(unlike.sum())
    failed = min(n_events, abs(n_out - n_events) + (n_out - n_distinct) + n_diff + lost)
    errors = {}
    if failed or lost:
        errors["fraud_stream"] = (f"{n_out} rows for {n_events} events, "
                                  f"{n_out - n_distinct} duplicates, {n_diff} "
                                  f"rows unlike batch scoring, {lost} events with no batch")

    backlog_end = sum(1 for f in files if f.get("commit", float("inf")) > t_high_end)
    high, low = lat["high"], lat["low"]
    full = MAX_FILES_PER_BATCH * BACKLOG[1]
    drain_ids = {file_batch.get(f["name"]) for f in backlog}
    drain_eps = statistics.median(
        [full * 1e3 / batches[b]["durationMs"]["triggerExecution"]
         for b in drain_ids if b in batches and batches[b]["numInputRows"] == full]
        or [0.0])
    result = {
        "attempted": n_events,
        "failed": failed,
        "errors": errors,
        "e2e": {
            "setup_s": setup_s,
            "throughput_per_s": drain_eps,
            "latency_p50_s": ctx.pct(high, 50),
            "latency_p90_s": ctx.pct(high, 90),
        },
        "named": {
            "stream_lat_p50_low_s": ctx.pct(low, 50),
            "stream_lat_p95_low_s": ctx.pct(low, 95),
            "stream_lat_p50_high_s": ctx.pct(high, 50),
            "stream_lat_p95_high_s": ctx.pct(high, 95),
            "stream_backlog_end": float(backlog_end),
            "stream_drain_eps": drain_eps,
        },
        "samples": len(high),
        "layers": layers,
        "drain_wall_s": drain_s,
        "batches": [[b, p["numInputRows"], p["durationMs"]["triggerExecution"]]
                    for b, p in sorted(batches.items())],
    }
    layers["streaming.gen_lag_s"] = max(f["written"] - f["sched"] for f in files)
    if ctx.trace:
        with ctx.phase("trace"):
            layers.update(_traced_layers(ctx, heard, t0, t_end))
    return result


STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")


def _traced_layers(ctx, heard: list[dict], t0: float, t_end: float) -> dict:
    ctx.stop_session()
    batches = list(_batches(heard).values())
    n = max(len(batches), 1)

    def mean(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in batches) / 1e3 / n

    execs = [ex for ex in spark_log.read_event_log(ctx.event_log_dir)
             if t0 <= ex["start"] <= t_end]
    lay = spark_log.spark_layers(execs, n)
    lay.update({
        "streaming.batches": float(len(batches)),
        "streaming.trigger_s": mean("triggerExecution"),
        "streaming.add_batch_s": mean("addBatch"),
        "streaming.latest_offset_s": mean("latestOffset"),
        "streaming.wal_commit_s": mean("walCommit"),
        "streaming.empty_batch_ratio": sum(
            p["numInputRows"] == 0 for p in batches) / n,
    })
    rows = [(f"streaming.{k}", mean(k)) for k in STREAM_PHASES]
    rows.append(("residual", lay["streaming.trigger_s"] - sum(v for _, v in rows)))
    ctx.tables.append(spark_log.format_table(
        f"{ctx.workload} wall time per micro-batch, {ctx.cores} threads",
        rows, lay["streaming.trigger_s"]))
    ctx.tables.append(spark_log.format_table(
        f"{ctx.workload} task time per micro-batch, {ctx.cores} threads",
        spark_log.task_time_table(lay), lay["spark.task_s"]))
    return lay
