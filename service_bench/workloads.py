"""The two workloads. Each returns a ``Run``: its operations (with latency,
outcome and what the oracle needs to check them) plus set-up and window
timestamps; ``run.py`` turns a ``Run`` into metrics."""

from __future__ import annotations

import io
import os
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

import gen

UPLOAD_POLL_S = 0.05
TAIL_DEADLINE_S = 90.0  # uploads still in flight after the window


@dataclass
class Op:
    kind: str  # "upload" | "turn" | "batch"
    start: float
    latency: float = 0.0
    ok: bool = True
    problems: list[str] = field(default_factory=list)
    in_window: bool = True
    info: dict[str, Any] = field(default_factory=dict)


@dataclass
class Run:
    ops: list[Op] = field(default_factory=list)
    setup_s: float = 0.0
    window_start: float = 0.0
    window_end: float = 0.0
    extra: dict[str, Any] = field(default_factory=dict)


def pct(values: list[float], q: float) -> float | None:
    """Linear-interpolated percentile (q in 0..100); None without samples."""
    v = sorted(values)
    if not v:
        return None
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def _fail(op: Op, exc: BaseException) -> None:
    op.ok = False
    op.problems.append("".join(traceback.format_exception_only(type(exc), exc)).strip())


# ---------------------------------------------------------------------------
# WSGI client helpers (in-process, no sockets)
# ---------------------------------------------------------------------------

def wsgi(app, method: str, path: str, body: bytes = b"",
         headers: dict[str, str] | None = None) -> tuple[int, bytes]:
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": "",
        "CONTENT_LENGTH": str(len(body)),
        "CONTENT_TYPE": "text/csv",
        "wsgi.input": io.BytesIO(body),
    }
    for k, v in (headers or {}).items():
        environ["HTTP_" + k.upper().replace("-", "_")] = v
    status: list[str] = []
    chunks = app(environ, lambda s, h: status.append(s))
    return int(status[0].split()[0]), b"".join(chunks)


# ---------------------------------------------------------------------------
# mixed_service
# ---------------------------------------------------------------------------

# Conversation datasets landed in set-up: (width, rows). Dataset 0 is the
# largest and the most popular (Zipf rank 1), so scans matter.
FIXTURES = [(10, 30_000), (12, 8_000), (8, 2_000)]
# Window uploads: upload k is due at UPLOAD_START_S + k * UPLOAD_PERIOD_S,
# and only the uploads due inside the window are made. Even-numbered uploads
# reuse a fixture's schema with new values (REUSE_ROWS rows); odd-numbered
# ones bring a new schema (NEW_SCHEMA = (width, rows)).
UPLOAD_START_S = 0.5
UPLOAD_PERIOD_S = 10.0
REUSE_ROWS = 8_000
NEW_SCHEMA = (20, 4_000)
CONVERSATION_CLIENTS = 3
# Set-up ends with a replay of the window's traffic: one throwaway upload
# (new values in the schema of fixture 2, the smallest) beside the
# conversation clients, for at least WARMUP_TRAFFIC_S and until that
# upload's insights are ready. The window then starts on a JVM past its
# warm-up, with no upload in flight. Warm-up clients are numbered from
# WARMUP_CLIENT0, so their turn streams differ from the window's.
WARMUP_TRAFFIC_S = 4.0
WARMUP_CLIENT0 = 100
WARMUP_UPLOAD_SEED = 9


class MixedService:
    """Open-loop uploads through ``PipelineApp(process_inline=False,
    worker=JobWorker(...))`` beside three closed-loop conversation clients on
    the same service and Spark session."""

    PRIMARY = "turn"
    # contract metric -> (report name, scale, unit)
    CONTRACT = {
        "latency_p50_ms": ("query_latency_p50_ms", 1.0, "ms"),
        "latency_p90_ms": ("query_latency_p90_ms", 1.0, "ms"),
        "throughput_per_s": ("queries_per_s", 1.0, "1/s"),
        "job_latency_p50_s": ("insights_latency_p50_s", 1.0, "s"),
    }

    def __init__(self, ctx, seed: int, seconds: float):
        self.ctx = ctx
        self.seed = seed
        self.seconds = seconds
        self.run = Run()
        self.oracle_inputs: list[tuple[int, str, gen.Schema]] = []
        self.counters: dict[str, int] = {"insights_requests": 0, "status_202": 0}
        self._lock = threading.Lock()

    def generate(self) -> None:
        """All inputs, made before set-up starts (the benchmark's own work)."""
        self.schemas = [gen.make_schema(w, self.seed * 100 + i) for i, (w, _) in enumerate(FIXTURES)]
        self.fixtures = [gen.make_csv(self.schemas[i], rows, self.seed * 100 + i)
                         for i, (_, rows) in enumerate(FIXTURES)]
        for i, (data, _) in enumerate(self.fixtures):
            self._keep_for_oracle(i, data)
        wseed = self.seed * 100 + WARMUP_UPLOAD_SEED
        self.warm_upload = gen.make_csv(self.schemas[2], FIXTURES[2][1], wseed)
        self.uploads = []
        k = 0
        while UPLOAD_START_S + k * UPLOAD_PERIOD_S < self.seconds:
            useed = self.seed * 100 + 10 + k
            if k % 2 == 0:
                schema, rows = self.schemas[k // 2 % len(self.schemas)], REUSE_ROWS
            else:
                schema, rows = gen.make_schema(NEW_SCHEMA[0], useed), NEW_SCHEMA[1]
            self.uploads.append(gen.make_csv(schema, rows, useed))
            k += 1

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        from g_data_pipeline_spark.http_api import PipelineApp
        from g_data_pipeline_spark.service import DataPipelineService
        from g_data_pipeline_spark.worker import JobWorker

        ctx = self.ctx
        self.service = DataPipelineService(ctx.spark, os.path.join(ctx.work, "svc"))
        self.worker = JobWorker(self.service).start()
        self.app = PipelineApp(self.service, process_inline=False, worker=self.worker)
        # The fixtures land side by side, straight through the service (the
        # HTTP and worker path is what the window measures).
        ops = [Op("upload", time.perf_counter(), in_window=False) for _ in FIXTURES]
        threads = [threading.Thread(target=self._land, args=(i, ops[i]), name=f"land{i}")
                   for i in range(len(FIXTURES))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.run.ops += ops
        self.job_ids = [op.info.get("job_id", "") for op in ops]
        for t in gen.warmup_turns(self.schemas[0]):
            op = self._turn(t)
            op.in_window = False
            self.run.ops.append(op)
        self._traffic([self.warm_upload], WARMUP_TRAFFIC_S, False, WARMUP_CLIENT0)

    def _land(self, i: int, op: Op) -> None:
        data, truth = self.fixtures[i]
        try:
            job_id = self.service.upload_csv(data, f"fixture{i}.csv")
            op.info["job_id"] = job_id
            self.service.process_job(job_id)
            op.problems += _check_upload(self.service.get_insights(job_id), truth)
            op.ok = not op.problems
        except Exception as exc:  # noqa: BLE001 - recorded as a failed op
            _fail(op, exc)
        op.latency = time.perf_counter() - op.start

    def _keep_for_oracle(self, ds: int, data: bytes) -> None:
        path = os.path.join(self.ctx.work, "oracle", f"ds{ds}.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        self.oracle_inputs.append((ds, path, self.schemas[ds]))

    def _post(self, data: bytes, name: str) -> tuple[int, dict]:
        import json

        code, body = wsgi(self.app, "POST", "/upload", data, {"X-Filename": name})
        return code, json.loads(body)

    def _poll(self, job_id: str) -> tuple[int, dict]:
        import json

        code, body = wsgi(self.app, "GET", f"/insights/{job_id}")
        with self._lock:
            self.counters["insights_requests"] += 1
            self.counters["status_202"] += code == 202
        return code, (json.loads(body) if code == 200 else {})

    # -- window -----------------------------------------------------------

    def window(self) -> None:
        run = self.run
        self.counters = {"insights_requests": 0, "status_202": 0}
        run.window_start, run.window_end, lags = self._traffic(
            self.uploads, self.seconds, True, 0)
        run.extra["schedule_lags"] = lags
        c = self.counters
        run.extra["status_202_ratio"] = c["status_202"] / max(1, c["insights_requests"])

    def _traffic(self, uploads: list, seconds: float, in_window: bool,
                 client0: int) -> tuple[float, float, list[float]]:
        """``uploads`` sent open loop beside CONVERSATION_CLIENTS closed-loop
        clients; returns (start, end of the last turn, schedule lags). In the
        window the clients stop after ``seconds``; in set-up they also keep
        going until every upload has been answered. Returns once every upload
        has been answered."""
        start = time.perf_counter()
        deadline = start + seconds
        turn_ops: list[Op] = []
        lags: list[float] = []
        answered = threading.Event()
        if in_window:
            answered.set()

        def upload():
            try:
                self._uploader(uploads, start, deadline, in_window, lags)
            finally:
                answered.set()

        threads = [threading.Thread(target=upload, name="uploader")]
        threads += [
            threading.Thread(target=self._talker, name=f"client{client0 + c}",
                             args=(client0 + c, deadline, answered, turn_ops, in_window))
            for c in range(CONVERSATION_CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads[1:]:
            t.join()
        end = max([deadline] + [o.start + o.latency for o in turn_ops])
        threads[0].join()
        self.run.ops += turn_ops
        return start, end, lags

    def _uploader(self, uploads: list, t0: float, deadline: float, in_window: bool,
                  lags: list[float]) -> None:
        """Open loop: upload k is due at ``t0`` + UPLOAD_START_S +
        k * UPLOAD_PERIOD_S, whatever happened before; its latency runs from
        when it was due."""
        plan = [(t0 + UPLOAD_START_S + k * UPLOAD_PERIOD_S, data, truth, k)
                for k, (data, truth) in enumerate(uploads)]
        pending: list[tuple[Op, str, Any]] = []
        tail_deadline = deadline + TAIL_DEADLINE_S
        while plan or pending:
            now = time.perf_counter()
            if plan and now >= plan[0][0]:
                due, data, truth, k = plan.pop(0)
                lags.append(now - due)
                op = Op("upload", due, in_window=in_window, info={"bytes": len(data)})
                self.run.ops.append(op)
                try:
                    code, body = self._post(data, f"upload{k}.csv")
                    if code == 503:
                        op.ok = False
                        op.info["rejected"] = True
                        op.problems.append("rejected (503)")
                    elif code != 200:
                        raise RuntimeError(f"upload answered {code}: {body}")
                    else:
                        pending.append((op, body["job_id"], truth))
                except Exception as exc:  # noqa: BLE001
                    _fail(op, exc)
                continue
            for item in list(pending):
                op, job_id, truth = item
                try:
                    code, insights = self._poll(job_id)
                except Exception as exc:  # noqa: BLE001
                    pending.remove(item)
                    _fail(op, exc)
                    continue
                if code == 202:
                    continue
                pending.remove(item)
                op.latency = time.perf_counter() - op.start
                if code == 200:
                    op.problems += _check_upload(insights, truth)
                else:
                    op.problems.append(f"insights answered {code}")
                op.ok = not op.problems
            if time.perf_counter() > tail_deadline:
                for op, _, _ in pending:
                    op.ok = False
                    op.problems.append("insights not ready by the tail deadline")
                break
            nxt = plan[0][0] if plan else float("inf")
            time.sleep(max(0.0, min(UPLOAD_POLL_S, nxt - time.perf_counter())))

    def _talker(self, client: int, deadline: float, answered: threading.Event,
                turn_ops: list[Op], in_window: bool) -> None:
        for turn in gen.TurnGenerator(self.schemas, self.seed, client):
            if time.perf_counter() >= deadline and answered.is_set():
                return
            op = self._turn(turn)
            op.in_window = in_window
            with self._lock:
                turn_ops.append(op)

    def _turn(self, turn: gen.Turn) -> Op:
        op = Op("turn", time.perf_counter(), info={"turn": turn})
        kw: dict[str, Any] = {"conversation_id": turn.conversation}
        if turn.mode == "ir":
            kw["ir"] = turn.payload
        else:
            kw["query_text"] = turn.payload
        try:
            op.info["response"] = self.service.query(self.job_ids[turn.dataset], **kw)
        except Exception as exc:  # noqa: BLE001
            _fail(op, exc)
        op.latency = time.perf_counter() - op.start
        return op

    # -- checks -----------------------------------------------------------

    def verify(self) -> None:
        from oracle import DuckOracle

        duck = DuckOracle()
        try:
            for ds, path, schema in self.oracle_inputs:
                duck.load(ds, path, schema)
            for op in self.run.ops:
                if op.kind != "turn" or not op.ok:
                    continue
                t = op.info.pop("turn")
                resp = op.info.pop("response")
                op.info["truncated"] = bool(resp.get("truncated"))
                op.info["label"] = t.label
                op.info["repeat"] = t.repeat
                op.problems += [f"{t.label} {t.payload!r}: {p}"
                                for p in duck.check_turn(t.dataset, t.intent, resp)]
                op.ok = not op.problems
        finally:
            duck.close()

    def named_metrics(self) -> dict[str, tuple]:
        """The workload's own metric names: name -> (value, unit, samples)."""
        run = self.run
        win = [o for o in run.ops if o.in_window]
        elapsed = run.window_end - run.window_start
        turns = [o for o in win if o.kind == "turn" and o.ok]
        uploads = [o for o in win if o.kind == "upload"]
        ins = [o.latency for o in uploads if o.ok]
        mb = sum(o.info["bytes"] for o in uploads if o.ok) / 1e6
        lat_ms = [o.latency * 1e3 for o in turns]
        lags_ms = [x * 1e3 for x in run.extra.get("schedule_lags", [])]
        by_intent = {
            lab: round(pct([o.latency * 1e3 for o in turns if o.info["label"] == lab], 50), 1)
            for lab in sorted({o.info["label"] for o in turns})
        }
        return {
            "insights_latency_p50_s": (pct(ins, 50), "s", len(ins)),
            "ingest_mb_per_s": (mb / sum(ins) if ins else None, "MB/s", len(ins)),
            "query_latency_p50_ms": (pct(lat_ms, 50), "ms", len(lat_ms)),
            "query_latency_p90_ms": (pct(lat_ms, 90), "ms", len(lat_ms)),
            "queries_per_s": (len(turns) / elapsed, "1/s", len(turns)),
            "rejected_frac": (sum(o.info.get("rejected", False) for o in uploads)
                              / max(1, len(uploads)), "ratio", len(uploads)),
            "schedule_lag_p90_ms": (pct(lags_ms, 90), "ms", len(lags_ms)),
            "repeated_turn_frac": (sum(o.info["repeat"] for o in turns) / max(1, len(turns)),
                                   "ratio", len(turns)),
            "turn_p50_ms_by_intent": (by_intent, "ms", len(turns)),
            "upload_latency_s": ([round(x, 3) for x in ins], "s", len(ins)),
        }

    def stop(self) -> None:
        if hasattr(self, "worker"):
            self.worker.stop()


def _check_upload(insights: dict, truth) -> list[str]:
    from oracle import check_insights

    return check_insights(insights, truth)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

BATCH_DOCS = 500
# Set-up runs WARMUP_BATCHES batches, numbered from WARMUP_BATCH0 apart from
# the window's: batch latency falls over the first two or three batches of a
# fresh JVM, and the window should start past that.
WARMUP_BATCH0 = 10_000
WARMUP_BATCHES = 3
JSONL_SCHEMA = "doc_id long, text string"


class CorpusDedup:
    """Closed loop, one client: each batch runs ``pipelines.curate_documents``
    and then ``operators.dedup.minhash_lsh_pairs`` to completion."""

    PRIMARY = "batch"
    CONTRACT = {
        "latency_p50_ms": ("batch_latency_p50_s", 1e3, "ms"),
        "latency_p90_ms": ("batch_latency_p90_s", 1e3, "ms"),
        "throughput_per_s": ("docs_per_s", 1.0, "1/s"),
        "job_latency_p50_s": ("curate_latency_p50_s", 1.0, "s"),
    }

    def __init__(self, ctx, seed: int, seconds: float):
        self.ctx = ctx
        self.seed = seed
        self.seconds = seconds
        self.run = Run()
        self.checks: list[tuple[Op, gen.DocBatch, list, list]] = []

    def _make(self, b: int) -> tuple[str, gen.DocBatch]:
        """Batch ``b`` of this seed, written as JSONL for the program to read."""
        batch = gen.make_doc_batch(BATCH_DOCS, self.seed, b)
        path = os.path.join(self.ctx.work, "corpus", f"b{b}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(gen.docs_jsonl(batch))
        return path, batch

    def generate(self) -> None:
        """Only the set-up batches; window batches are made on demand."""
        self.warm = [self._make(WARMUP_BATCH0 + i) for i in range(WARMUP_BATCHES)]

    def setup(self) -> None:
        for path, batch in self.warm:
            op = self._batch(path, batch)
            op.in_window = False
            self.run.ops.append(op)

    def _batch(self, path: str, batch: gen.DocBatch) -> Op:
        from g_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
        from g_data_pipeline_spark.pipelines import curate_documents
        from g_data_pipeline_spark.sources import read_jsonl

        tracer = self.ctx.tracer
        op = Op("batch", time.perf_counter(), info={"docs": len(batch.docs),
                                                    "bytes": batch.text_bytes})
        try:
            with tracer.span("batch", group=True):
                df = read_jsonl(self.ctx.spark, path, schema=JSONL_SCHEMA)
                with tracer.span("pipelines.curate_documents"):
                    curated_df = curate_documents(df)
                    curated = curated_df.select("doc_id").collect()
                op.info["curate_s"] = time.perf_counter() - op.start
                with tracer.span("dedup.minhash_lsh_pairs"):
                    pairs_df = minhash_lsh_pairs(df, "doc_id", "text")
                    pairs = pairs_df.collect()
            op.latency = time.perf_counter() - op.start
            kept = [r.doc_id for r in curated]
            found = [(r.id_a, r.id_b, r.jaccard) for r in pairs]
            self.checks.append((op, batch, kept, found))
            op.info["kept_ratio"] = len(kept) / len(batch.docs)
            op.info["pairs"] = len(found)
            if tracer.enabled:
                from g_data_pipeline_spark.operators.runprofile import (
                    executed_metrics,
                    run_summary,
                )

                summary = [run_summary(executed_metrics(d)) for d in (curated_df, pairs_df)]
                op.info["rows_scanned"] = sum(s["rows_scanned"] for s in summary)
                op.info["shuffle_bytes"] = sum(s["shuffle_bytes_written"] for s in summary)
        except Exception as exc:  # noqa: BLE001
            _fail(op, exc)
            op.latency = time.perf_counter() - op.start
        return op

    def window(self) -> None:
        """Batches are made on demand; the time spent making them is kept
        out of the window's clock, which measures the program only."""
        run = self.run
        run.window_start = time.perf_counter()
        gen_s = 0.0
        b = 0
        while time.perf_counter() - gen_s < run.window_start + self.seconds:
            t = time.perf_counter()
            batch = self._make(b)
            gen_s += time.perf_counter() - t
            run.ops.append(self._batch(*batch))
            b += 1
        run.window_end = time.perf_counter()
        run.extra["generate_s"] = gen_s

    def verify(self) -> None:
        from oracle import check_curated, check_pairs

        recalls = []
        for op, batch, kept, found in self.checks:
            problems, recall = check_pairs(batch, found)
            op.problems += check_curated(batch, kept) + problems
            op.ok = not op.problems
            if op.in_window:
                recalls.append(recall)
        if recalls:
            self.run.extra["near_dup_recall"] = sum(recalls) / len(recalls)

    def named_metrics(self) -> dict[str, tuple]:
        """The workload's own metric names: name -> (value, unit, samples)."""
        run = self.run
        batches = [o for o in run.ops if o.in_window and o.ok]
        elapsed = run.window_end - run.window_start - run.extra["generate_s"]
        lat = [o.latency for o in batches]
        cur = [o.info["curate_s"] for o in batches]
        return {
            "docs_per_s": (sum(o.info["docs"] for o in batches) / elapsed, "1/s", len(batches)),
            "batch_latency_p50_s": (pct(lat, 50), "s", len(lat)),
            "batch_latency_p90_s": (pct(lat, 90), "s", len(lat)),
            "curate_latency_p50_s": (pct(cur, 50), "s", len(cur)),
            "near_dup_recall": (run.extra.get("near_dup_recall"), "ratio", len(batches)),
            "batch_latency_s": ([round(x, 3) for x in lat], "s", len(lat)),
            "curate_latency_s": ([round(x, 3) for x in cur], "s", len(cur)),
        }

    def stop(self) -> None:
        pass


WORKLOADS = {"mixed_service": MixedService, "corpus_dedup": CorpusDedup}
