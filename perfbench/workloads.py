"""The three workloads. Each one generates its inputs from the seed, warms
up, runs operations in a closed loop and checks one operation's outputs;
``traced`` runs one operation with spans around the package's public calls.

Only public functions of the package are called:
``session.get_spark``, ``sources.parse_access_logs``,
``operators.sessionize.sessionize`` / ``user_total_durations``,
``streaming.pipeline.run_sessionize_pipeline`` / ``encode_json``,
``streaming.sessionize_stream.sessionize_stream_bucketed`` and
``plans.QUERIES`` / ``plans.ORACLES``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import check
import gen


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------- logs_batch


class LogsBatch:
    """Raw ELB lines -> parse -> batch sessionize (key ip) -> per-client
    totals -> noop sink."""

    name = "logs_batch"
    knobs = gen.LogKnobs(n_lines=200_000)
    n_files = 4
    layer_reps = 3
    warm_ops = 3  # the first two noop runs after the collect are still measurably cold

    def __init__(self, work: str, on_fail):
        self.dir = os.path.join(work, "logs")
        self.stage = os.path.join(work, "stage")

    def generate(self, seed: int) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.ev = gen.write_log_files(seed, self.knobs, self.dir, self.n_files)
        return {"lines": self.knobs.n_lines, "files": self.n_files, "clients": self.knobs.n_clients,
                "bytes": sum(os.path.getsize(os.path.join(self.dir, f)) for f in os.listdir(self.dir))}

    def input_events(self) -> int:
        return self.knobs.n_lines

    def _pipeline(self, spark):
        from flink_realtime_sessionize_sample_spark.operators.sessionize import sessionize, user_total_durations
        from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs

        parsed = parse_access_logs(spark.read.text(self.dir))
        return user_total_durations(sessionize(parsed, key="ip", tiebreakers=()), key="ip")

    def warmup(self, spark) -> None:
        self.totals_rows = [tuple(r) for r in self._pipeline(spark).collect()]
        for _ in range(self.warm_ops):
            self.op(spark)

    def op(self, spark) -> dict:
        wall, _ = timed(noop, self._pipeline(spark))
        return {"wall_s": wall, "batch_ms": [wall * 1e3]}

    def check(self, spark) -> dict:
        from flink_realtime_sessionize_sample_spark.operators.sessionize import sessionize
        from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs

        lines = spark.read.text(self.dir)
        parsed = parse_access_logs(lines)
        n_sessions = sessionize(parsed, key="ip", tiebreakers=()).select("session_id").distinct().count()
        exp = check.batch_expectation(self.ev)
        return check.check_logs_batch(exp, self.ev.addr, self.totals_rows, n_sessions, lines.count(), parsed.count())

    def traced(self, spark, spans, sc_group) -> dict:
        """Each layer runs on its own staged input, so its self time is its
        call minus the scan of that input; every timed call runs
        ``layer_reps`` times and the median counts."""
        from pyspark.sql import functions as F

        from flink_realtime_sessionize_sample_spark.operators.sessionize import sessionize, user_total_durations
        from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs

        shutil.rmtree(self.stage, ignore_errors=True)
        p_parsed, p_sess = os.path.join(self.stage, "parsed"), os.path.join(self.stage, "sessionized")
        t = {}

        def layer(name, fn, reps=self.layer_reps):
            sc_group(f"t:{name}")
            times = []
            for rep in range(reps):
                with spans.span(name, rep=rep):
                    times.append(timed(fn)[0])
            t[name] = statistics.median(times)

        with spans.span("run"):
            layer("sources.scan_text", lambda: noop(spark.read.text(self.dir)))
            layer("sources.parse_access_logs", lambda: noop(parse_access_logs(spark.read.text(self.dir))))
            layer("stage.parsed", lambda: parse_access_logs(spark.read.text(self.dir)).write.parquet(p_parsed), 1)
            layer("stage.scan_parsed", lambda: noop(spark.read.parquet(p_parsed)))
            # the operator's own exchange + sort, reproduced from outside
            layer("operators.sessionize.exchange_sort", lambda: noop(
                spark.read.parquet(p_parsed).withColumn("_us", F.unix_micros("ts"))
                .repartition(F.col("ip")).sortWithinPartitions("ip", "ts")))
            layer("operators.sessionize.sessionize",
                  lambda: noop(sessionize(spark.read.parquet(p_parsed), key="ip", tiebreakers=())))
            layer("stage.sessionized",
                  lambda: sessionize(spark.read.parquet(p_parsed), key="ip", tiebreakers=()).write.parquet(p_sess), 1)
            layer("stage.scan_sessionized", lambda: noop(spark.read.parquet(p_sess)))
            layer("operators.sessionize.user_total_durations",
                  lambda: noop(user_total_durations(spark.read.parquet(p_sess), key="ip")))
        sc_group("t:counts")
        lines_in = spark.read.text(self.dir).count()
        rows_out = spark.read.parquet(p_parsed).count()
        per = (spark.read.parquet(p_sess).groupBy("ip", "session_id")
               .agg(F.min(F.unix_micros("ts")).alias("s0"), F.max(F.unix_micros("ts")).alias("s1")).toPandas())
        per = per.sort_values(["ip", "s0"])
        prev_end = per.groupby("ip")["s1"].shift(1)
        # a session that opens within 30 min of the client's previous event was cut by a cap
        cap = int(((per["s0"] // 1_000_000 - prev_end // 1_000_000) <= check.GAP_S).sum())
        scan = t["sources.scan_text"]
        m = {
            "sources.scan_s": scan,
            "sources.parse_s": t["sources.parse_access_logs"] - scan,
            "sources.lines_in": lines_in,
            "sources.rows_out": rows_out,
            "sources.malformed_dropped": lines_in - rows_out,
            "operators.sessionize.exchange_sort_s": t["operators.sessionize.exchange_sort"] - t["stage.scan_parsed"],
            "operators.sessionize.kernel_s": t["operators.sessionize.sessionize"] - t["operators.sessionize.exchange_sort"],
            "operators.sessionize.aggregate_s": t["operators.sessionize.user_total_durations"] - t["stage.scan_sessionized"],
            "operators.sessionize.sessions_out": len(per),
            "operators.sessionize.cap_sessions": cap,
        }
        self_times = ["sources.scan_s", "sources.parse_s", "operators.sessionize.exchange_sort_s",
                      "operators.sessionize.kernel_s", "operators.sessionize.aggregate_s"]
        m["trace.layer_self_sum_s"] = sum(m[k] for k in self_times)
        m["trace.traced_run_s"] = sum(t.values())
        self.python_group = "t:stage.sessionized"  # one sessionize call
        return m


# ---------------------------------------------------------------- stream_replay


class StreamReplay:
    """The reference's whole job: raw lines, one file per micro-batch,
    through ``run_sessionize_pipeline`` into a JSON text sink."""

    name = "stream_replay"
    knobs = gen.LogKnobs(n_lines=135_000)
    n_files = 3
    timeout_s = 150

    def __init__(self, work: str, on_fail):
        self.work = work
        self.dir = os.path.join(work, "stream_in")
        self.n_ops = 0

    def generate(self, seed: int) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.ev, self.per_file = gen.write_stream_files(seed, self.knobs, self.dir, self.n_files)
        return {"lines": self.knobs.n_lines, "files": self.n_files, "clients": self.knobs.n_clients}

    def input_events(self) -> int:
        return self.knobs.n_lines

    def _source(self, spark):
        return spark.readStream.option("maxFilesPerTrigger", 1).text(self.dir)

    def _await(self, q) -> list:
        if not q.awaitTermination(self.timeout_s):
            q.stop()
            raise TimeoutError(f"replay did not finish in {self.timeout_s} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def replay(self, spark, tag: str):
        from flink_realtime_sessionize_sample_spark.streaming.pipeline import run_sessionize_pipeline

        out, ck = os.path.join(self.work, f"out_{tag}"), os.path.join(self.work, f"ck_{tag}")
        q = run_sessionize_pipeline(spark, self._source(spark), ck, out, raw_lines=True,
                                    trigger_available_now=True, queryName=f"replay_{tag}")
        return q, self._await(q), out, ck

    def warmup(self, spark) -> None:
        """One full replay: after a replay of the first file alone, the next
        full replay was still measurably cold."""
        _, _, out, ck = self.replay(spark, "warmup")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)

    def op(self, spark) -> dict:
        """One full replay; the first one's output is kept for the check."""
        self.n_ops += 1
        t0 = time.perf_counter()
        _, prog, out, ck = self.replay(spark, f"m{self.n_ops}")
        wall = time.perf_counter() - t0
        if self.n_ops == 1:
            self.check_progress, self.check_out = prog, out
        else:
            shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        return {"wall_s": wall, "batch_ms": [p["durationMs"]["triggerExecution"] for p in prog]}

    def check(self, spark) -> dict:
        expected = check.stream_expectation(self.ev, self.per_file)
        dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in self.check_progress)
        # the reference's watermark is inert (SURVEY 2.4): it drops no row
        res = check.check_stream(expected, self.check_out, dropped, 0)
        res["arrived_past_watermark"] = self._past_watermark()
        return res

    def _past_watermark(self) -> int:
        """Rows whose event time is behind the watermark of the batch they
        arrive in (max event time of earlier batches minus 60 s)."""
        n, wm = 0, None
        for f in self.per_file:
            f = f[~self.ev.malformed[f]]
            ts = self.ev.ts_us[f]
            if wm is not None:
                n += int((ts < wm).sum())
            m = int(ts.max()) - 60_000_000
            wm = m if wm is None else max(wm, m)
        return n

    def traced(self, spark, spans, sc_group) -> dict:
        from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs
        from flink_realtime_sessionize_sample_spark.streaming.pipeline import WATERMARK_DELAY
        from flink_realtime_sessionize_sample_spark.streaming.sessionize_stream import sessionize_stream_bucketed

        with spans.span("run") as run:
            t0 = time.perf_counter()
            q, prog, out, ck = self.replay(spark, "traced")
            full = time.perf_counter() - t0
        self.stream_groups = [str(q.runId)]
        for p in prog:
            start = _iso_epoch(p["timestamp"])
            spans.add("micro-batch", start, start + p["durationMs"]["triggerExecution"] / 1e3, run["id"],
                      batch=p["batchId"], rows=p["numInputRows"])
        # the same public functions into a noop sink, without encode_json
        ck2 = os.path.join(self.work, "ck_noop")
        with spans.span("streaming.noop_sink_replay"):
            t0 = time.perf_counter()
            parsed = parse_access_logs(self._source(spark)).withWatermark("ts", WATERMARK_DELAY)
            sess = sessionize_stream_bucketed(parsed, key="ip", ts="ts", tiebreakers=())
            q2 = (sess.writeStream.format("noop").option("checkpointLocation", ck2)
                  .trigger(availableNow=True).outputMode("append").start())
            self._await(q2)
            no_sink = time.perf_counter() - t0
        for d in (out, ck, ck2):
            shutil.rmtree(d, ignore_errors=True)

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) for p in prog)

        def med_state(key):
            return statistics.median(p["stateOperators"][0][key] for p in prog)

        last = prog[-1]["stateOperators"][0]
        return {
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.state_update_ms": med_state("allUpdatesTimeMs"),
            "streaming.state_commit_ms": med_state("commitTimeMs"),
            "streaming.state_rows_total": last["numRowsTotal"],
            "streaming.state_memory_bytes": last["memoryUsedBytes"],
            "streaming.rows_dropped_by_watermark": sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in prog),
            "streaming.sink_s": full - no_sink,
            "trace.traced_run_s": full,
        }


def _iso_epoch(s: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------- query_mix


class QueryMix:
    """Registry queries through ``plans.QUERIES[name]`` + noop sink."""

    name = "query_mix"
    queries = ("bpe_train_merges", "dedup_minhash_lsh", "local_supplier_volume_q5")
    scale = 0.01
    warm_passes = 2  # after the collect, the next noop pass still takes a third more CPU than later ones

    def __init__(self, work: str, on_fail):
        """``on_fail(name, phase, exc)`` records a failing query; the pass goes on."""
        self.dir = os.path.join(work, "tables")
        self.on_fail = on_fail

    def generate(self, seed: int) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.rows = gen.write_tables(seed, self.dir, self.scale)
        return {"scale": self.scale, "rows": self.rows, "queries": list(self.queries)}

    def input_events(self) -> int:
        return self.input_rows

    def warmup(self, spark) -> None:
        from flink_realtime_sessionize_sample_spark import plans

        self.results, self.input_rows = {}, 0
        for q in self.queries:
            phase = "build"
            try:
                df = plans.QUERIES[q](spark, self.dir)
                phase = "collect"
                self.results[q] = df.toPandas()
            except Exception as e:  # recorded; the check then fails this query
                self.on_fail(q, phase, e)
                continue
            read = {os.path.basename(f) for f in df.inputFiles()}
            self.input_rows += sum(n for t, n in self.rows.items() if f"{t}.parquet" in read)
        for _ in range(self.warm_passes):
            self.op(spark)

    def op(self, spark) -> dict:
        from flink_realtime_sessionize_sample_spark import plans

        lat = []
        t0 = time.perf_counter()
        ok = True
        for q in self.queries:
            q0 = time.perf_counter()
            try:
                phase = "build"
                df = plans.QUERIES[q](spark, self.dir)
                phase = "exec"
                noop(df)
            except Exception as e:  # one failing query must not stop the pass
                self.on_fail(q, phase, e)
                ok = False
                continue
            lat.append((time.perf_counter() - q0) * 1e3)
        return {"wall_s": time.perf_counter() - t0 if ok else None, "batch_ms": lat, "units": len(self.queries)}

    def check(self, spark) -> dict:
        from flink_realtime_sessionize_sample_spark import plans

        for q in self.queries:
            if q not in self.results:
                raise check.CheckFailed(f"{q}: no result to check")
            check.check_query(q, self.results[q], plans.ORACLES[q], self.dir)
        return {"queries": len(self.queries), "input_rows": self.input_rows}

    def traced(self, spark, spans, sc_group) -> dict:
        from flink_realtime_sessionize_sample_spark import plans

        tracker = spark.sparkContext.statusTracker()
        m: dict = {}

        def jobs_tasks(group):
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else []:
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
            return len(jobs), tasks

        with spans.span("run"):
            t_run = time.perf_counter()
            for q in self.queries:
                with spans.span("query", query=q):
                    sc_group(f"t:{q}:build")
                    with spans.span("plans.build", query=q):
                        b, df = timed(plans.QUERIES[q], spark, self.dir)
                    sc_group(f"t:{q}:plan")
                    with spans.span("plans.plan", query=q):
                        p, _ = timed(lambda: df._jdf.queryExecution().executedPlan())
                    sc_group(f"t:{q}:exec")
                    with spans.span("plans.exec", query=q):
                        e, _ = timed(noop, df)
                bj, _ = jobs_tasks(f"t:{q}:build")
                ej, et = jobs_tasks(f"t:{q}:exec")
                for k, v in (("build_s", b), ("plan_s", p), ("exec_s", e), ("build_jobs", bj), ("exec_jobs", ej), ("exec_tasks", et)):
                    m[f"plans.{k}.{q}"] = v
                    m[f"plans.{k}"] = m.get(f"plans.{k}", 0) + v
            m["trace.traced_run_s"] = time.perf_counter() - t_run
        return m


WORKLOADS = {w.name: w for w in (LogsBatch, StreamReplay, QueryMix)}


def tail_value(samples: list) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; with fewer
    than twenty samples that percentile is at or below the median, so the
    maximum is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], f"p{100 * (n - 10) / n:.1f}"
    return xs[-1], "max"

