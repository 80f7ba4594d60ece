"""The four benchmark workloads.

All are closed loops with one client: each op starts when the previous one
has returned, as scheduled batch queries, a daily ETL run and AvailableNow
triggers on one checkpoint do.  A workload turns its seed into inputs
(:meth:`Workload.prepare`), warms a fresh session (:meth:`warmup`, charged
to set-up), verifies what it can before timing (:meth:`verify`), and then
yields passes of ops.  The runner times :meth:`run_op` only; the check of
each op's output (:meth:`check_op`) runs outside the timed region.

When the runner attaches a tracer, the workload opens spans around its
calls into each engine layer and labels Spark jobs with one job group per
op step.  Engine functions that a layer calls internally (the CSV and
upsert sinks) are wrapped for the traced passes only, by swapping the
module attribute the caller looks up; the engine's files are not edited.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import pickle
import random
import re
import subprocess
import sys
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pyarrow.parquet as pq
from lms_etl_pipeline_spark.sources.rest import RestSource

from perfbench import checks, gen, target

#: catalog_scan: single-action queries (the forcing action dominates)
SCAN_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "flagship_regional_revenue",
    "join_left_outer_counts", "window_topk_per_group", "events_session_window",
    "tf_idf_top_terms", "near_dup_pairs_lsh", "knn_cosine_exact",
    "minhash_signatures", "multimodal_image_decode", "dedup_embedding_cosine",
    "token_budget_selection", "join_asof_next_purchase", "multimodal_y4m_frames_real",
)
#: catalog_iterative: builders that run eager materialize barriers
ITERATIVE_QUERIES = (
    "corpus_curation_pipeline", "bpe_train_merges", "bpe_train_merges_deep",
    "quality_classifier_train", "quantile_exact_selection", "dsir_importance_selection",
)


@dataclass
class Op:
    name: str
    arg: object = None
    rows: int = 0                 # user records the op upserts
    groups: dict = field(default_factory=dict)  # step -> Spark job group
    info: dict = field(default_factory=dict)    # traced-run extras


class Workload:
    name = ""
    #: catalog fixture scale; only the catalog workloads read it
    scale = 0.0
    #: whole untraced passes a run times at least
    min_passes = 1

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.tr = None          # perfbench.trace.Tracer during traced passes

    # -- hooks --------------------------------------------------------------
    def prepare(self) -> None: ...
    def wait_prepared(self) -> None: ...
    def warmup(self, spark) -> None: ...
    def verify(self, spark) -> None: ...
    def next_pass(self, n: int) -> list[Op]: raise NotImplementedError
    def before_op(self, op: Op) -> None: ...
    def trace_patches(self) -> list: return []
    def run_op(self, spark, op: Op): raise NotImplementedError
    def check_op(self, op: Op, result) -> str | None: return None
    def final_check(self) -> str | None: return None
    def close(self) -> None: ...

    # -- tracing helpers ------------------------------------------------------
    def span(self, name: str):
        return self.tr.span(name) if self.tr else contextlib.nullcontext()

    def group(self, spark, op: Op, step: str) -> None:
        """Label the Spark jobs of the next step (traced passes only)."""
        if self.tr:
            gid = f"op{op.info['op']}.{step}"
            op.groups[step] = gid
            spark.sparkContext.setJobGroup(gid, f"{self.name} {op.name} {step}")

    def ungroup(self, spark) -> None:
        if self.tr:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# Catalog workloads
# ---------------------------------------------------------------------------

class Catalog(Workload):
    queries: tuple[str, ...] = ()
    warmup_query = "q1_pricing_summary"
    #: the largest scale whose once-per-run DuckDB verification and cold
    #: first execution still fit a run's time budget
    scale = 0.01
    #: two passes, so the p90 of the op times is taken over 30 ops
    min_passes = 2

    def prepare(self) -> None:
        from lms_etl_pipeline_spark import plans

        self.data = os.path.join(self.workdir, "catalog")
        gen.write_catalog(self.seed, self.scale, self.data)
        self.builders = plans.all_queries()
        self.oracles = {q: plans.all_oracles()[q] for q in self.queries}
        self.expected: dict[str, tuple] = {}
        self.wrong: dict[str, str] = {}
        # DuckDB answers the oracle twins in a child process while the
        # first (cold) session starts; the runner waits for it before the
        # next set-up
        request = os.path.join(self.workdir, "oracle-request.json")
        self._answers = os.path.join(self.workdir, "oracle-answers.pickle")
        with open(request, "w") as fh:
            json.dump({"data": self.data, "tables": gen.CATALOG_TABLES,
                       "queries": self.oracles}, fh)
        self._oracle_proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.oracles", request, self._answers],
        )
        self.oracle_rows: dict | None = None

    def wait_prepared(self) -> None:
        if self.oracle_rows is None:
            code = self._oracle_proc.wait()
            if code != 0:
                raise RuntimeError(f"DuckDB oracle process exited with {code}")
            with open(self._answers, "rb") as fh:
                self.oracle_rows = pickle.load(fh)

    def warmup(self, spark) -> None:
        checks.signature(self.builders[self.warmup_query](spark, self.data))

    def verify(self, spark) -> None:
        """Compare each query once with its DuckDB twin, and keep the
        signature the timed executions must reproduce: that of the verified
        rows themselves.  The query then runs a second time through the
        timed sink, whose signature must match.  These are each query's
        cold first and second executions: the JVM is still compiling its
        hot paths in the second, whose ops ran up to 1.7 times slower than
        later ones, so the timed passes start on the third."""
        self.wait_prepared()
        for q in self.queries:
            try:
                df = self.builders[q](spark, self.data)
                rows = df.collect()
                oracle = self.oracle_rows[q]
                if isinstance(oracle, str):
                    raise RuntimeError(f"oracle failed: {oracle}")
                bad = checks.oracle_mismatch(rows, df.columns, *oracle)
                if bad:
                    self.wrong[q] = bad
                self.expected[q] = checks.signature(spark.createDataFrame(rows, df.schema))
                again = checks.signature(df)
                if not bad and not checks.same_signature(again, self.expected[q]):
                    self.wrong[q] = f"sink signature {again} != {self.expected[q]}"
            except Exception as exc:  # noqa: BLE001 - a broken query is a failed op
                self.wrong[q] = f"{type(exc).__name__}: {exc}"[:300]

    def next_pass(self, n: int) -> list[Op]:
        order = list(self.queries)
        random.Random(f"order:{self.seed}:{n}").shuffle(order)
        return [Op(q) for q in order]

    def run_op(self, spark, op: Op):
        with self.span("plans.build"):
            self.group(spark, op, "build")
            df = self.builders[op.name](spark, self.data)
        with self.span("plans.exec"):
            self.group(spark, op, "exec")
            sink = checks.signature_frame(df)
            out = tuple(sink.collect()[0])
        self.ungroup(spark)
        op.rows = out[0]  # a catalog op's records are its result rows
        if self.tr:
            op.info["sink"] = sink
        return out

    def check_op(self, op: Op, result) -> str | None:
        if op.name in self.wrong:
            return self.wrong[op.name]
        if not checks.same_signature(result, self.expected[op.name]):
            return f"signature {result} != {self.expected[op.name]}"
        return None

    def load_tables(self, spark, pass_no: int) -> list[str]:
        """Traced passes: one ``load_table`` call per fixture table; returns
        the job group of each call."""
        from lms_etl_pipeline_spark.sources.tables import load_table

        groups = []
        for t in gen.CATALOG_TABLES:
            op = Op(t, info={"op": f"p{pass_no}.{t}"})
            with self.span("sources.load_table"):
                self.group(spark, op, "load_table")
                load_table(spark, self.data, t)
            self.ungroup(spark)
            groups.append(op.groups["load_table"])
        return groups

    def close(self) -> None:
        if self._oracle_proc.poll() is None:
            self._oracle_proc.kill()
        self._oracle_proc.wait()


class CatalogScan(Catalog):
    name = "catalog_scan"
    queries = SCAN_QUERIES


class CatalogIterative(Catalog):
    name = "catalog_iterative"
    queries = ITERATIVE_QUERIES


# ---------------------------------------------------------------------------
# LMS extract -> load
# ---------------------------------------------------------------------------

class _Api(BaseHTTPRequestHandler):
    """The LMS users endpoint: one department's JSON page per request."""

    protocol_version = "HTTP/1.1"
    payloads: dict[str, bytes]  # set per server by a subclass

    def log_message(self, *args):
        pass

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query).get("_filter", [""])[0]
        m = re.fullmatch(r"departmentId eq '([^']*)'", q)
        body = self.payloads.get(m.group(1)) if m else None
        if body is None:
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class TracedRestSource(RestSource):
    """RestSource with spans around the fetch and the table read."""

    tracer = None

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def fetch(self, *args, **kwargs):
        with self._span("sources.rest_fetch"):
            return super().fetch(*args, **kwargs)

    def read_table(self, *args, **kwargs):
        with self._span("sources.rest_read_table"):
            return super().read_table(*args, **kwargs)


def _wrapped(tracer, name: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return call


@contextlib.contextmanager
def patched(tracer, targets):
    """Swap ``(module, attribute, span name)`` targets for span-wrapped
    versions while the block runs."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    for m, a, name in targets:
        setattr(m, a, _wrapped(tracer, name, getattr(m, a)))
    try:
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)


def _lms_schemas():
    """The API schema, the CSV snapshot's schema, and the target table's."""
    from pyspark.sql import types as T

    s, long = T.StringType(), T.LongType()
    api = T.StructType(
        [T.StructField(k, long if c in gen.INT_COLUMNS else s)
         for k, c in gen.RENAME_MAP.items()]
        + [T.StructField("customFields", T.StructType(
            [T.StructField(c, s) for c in gen.CUSTOM_FIELDS]))]
    )
    csv = T.StructType(
        [T.StructField(c, long if c == "lms_user_id" else s) for c in gen.TARGET_COLUMNS]
    )
    tgt = T.StructType([
        T.StructField(c, long if c in gen.INT_COLUMNS
                      else T.BooleanType() if c in gen.BOOL_COLUMNS else s)
        for c in gen.TARGET_COLUMNS
    ])
    return api, csv, tgt


def _members_ddl() -> str:
    cols = [
        f"{c} INTEGER PRIMARY KEY" if c == "lms_user_id"
        else f"{c} INTEGER" if c in gen.INT_COLUMNS or c in gen.BOOL_COLUMNS
        else f"{c} TEXT"
        for c in gen.TARGET_COLUMNS
    ]
    return f"CREATE TABLE department_members ({', '.join(cols)})"


class LmsEtl(Workload):
    """One op = one department's daily snapshot: REST -> CSV -> upsert."""

    name = "lms_etl"

    def prepare(self) -> None:
        self.roster = gen.LmsRoster(self.seed)
        self.db = os.path.join(self.workdir, "lms.db")
        # the target starts at day 0, written without the engine
        target.create(self.db, _members_ddl(), list(self.roster.expected_all().values()))
        self.payloads = {}
        handler = type("Api", (_Api,), {"payloads": self.payloads})
        self.httpd = HTTPServer(("127.0.0.1", 0), handler)
        self.server = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.server.start()
        self.source = TracedRestSource(f"http://127.0.0.1:{self.httpd.server_port}")
        self.api_schema, self.csv_schema, self.target_schema = _lms_schemas()
        self.connect = functools.partial(target.connect, self.db)

    def warmup(self, spark) -> None:
        dep = self.roster.warmup_department
        self.payloads[dep] = self.roster.payload(dep)
        self._cycle(spark, Op("warmup", arg=dep))

    def next_pass(self, n: int) -> list[Op]:
        deps = list(self.roster.departments)
        random.Random(f"order:{self.seed}:{n}").shuffle(deps)
        return [Op(f"department:{len(self.roster.users[d])}", arg=d) for d in deps]

    def before_op(self, op: Op) -> None:
        """Untimed: move the department to its next day and publish it."""
        self.roster.advance(op.arg)
        self.payloads[op.arg] = self.roster.payload(op.arg)
        op.rows = len(self.roster.users[op.arg])

    def run_op(self, spark, op: Op):
        self._cycle(spark, op)

    def _cycle(self, spark, op: Op) -> None:
        from lms_etl_pipeline_spark import pipeline

        csv_path = os.path.join(self.workdir, "snapshots", op.arg)
        self.source.tracer = self.tr
        with self.span("pipeline.extract"):
            self.group(spark, op, "extract")
            pipeline.run_extract(
                spark, self.source, self.api_schema, csv_path,
                department_id=op.arg, rename_map=gen.RENAME_MAP,
            )
        with self.span("pipeline.load"):
            self.group(spark, op, "load")
            pipeline.run_load(
                spark, csv_path, self.csv_schema, self.target_schema,
                self.connect, "department_members", ["lms_user_id"],
                datetime_cols=gen.DATETIME_COLUMNS,
            )
        self.ungroup(spark)

    def trace_patches(self):
        from lms_etl_pipeline_spark import pipeline

        return [(pipeline, "write_csv", "sinks.csv_write"),
                (pipeline, "upsert_via_foreach_partition", "sinks.upsert")]

    def check_op(self, op: Op, result) -> str | None:
        got = target.read(self.db, "department_members", "department_id = ?", (op.arg,))
        return _diff(got, self.roster.expected_rows(op.arg))

    def final_check(self) -> str | None:
        return _diff(target.read(self.db, "department_members"), self.roster.expected_all())

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.server.join()


def _diff(got: dict, want: dict) -> str | None:
    if got == want:
        return None
    if got.keys() != want.keys():
        return f"keys differ: {len(got)} rows vs {len(want)} expected"
    k = next(k for k in want if got[k] != want[k])
    return f"row {k}: {got[k]} != {want[k]}"


# ---------------------------------------------------------------------------
# Incremental stream upsert
# ---------------------------------------------------------------------------

class LmsStream(Workload):
    """One op = drain one landed change file with an AvailableNow trigger
    into the ledgered upsert sink."""

    name = "lms_stream"
    file_rows = 5000
    warmup_rows = 500
    files_per_pass = 24

    def prepare(self) -> None:
        from pyspark.sql import types as T

        self.changes = gen.ChangeStream(self.seed, self.file_rows)
        self.landing = os.path.join(self.workdir, "landing")
        self.staging = os.path.join(self.workdir, "staging")
        self.checkpoint = os.path.join(self.workdir, "checkpoint")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.db = os.path.join(self.workdir, "activity.db")
        target.create(self.db, target.ACTIVITY_DDL)
        self.connect = functools.partial(target.connect, self.db)
        conv = {"int64": T.LongType(), "string": T.StringType(), "double": T.DoubleType()}
        self.schema = T.StructType(
            [T.StructField(f.name, conv[str(f.type)]) for f in gen.STREAM_SCHEMA]
        )
        self.keys: dict[str, list[int]] = {}

    def _land(self, rows: int | None = None) -> tuple[str, int]:
        name = f"changes-{self.changes.n_files:05d}.parquet"
        table = self.changes.next_file(rows)
        tmp = os.path.join(self.staging, name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        self.keys[name] = table.column("lms_user_id").to_pylist()
        return name, table.num_rows

    def warmup(self, spark) -> None:
        self._land(self.warmup_rows)
        self._drain(spark, Op("warmup"))

    def next_pass(self, n: int) -> list[Op]:
        return [Op("change_file") for _ in range(self.files_per_pass)]

    def before_op(self, op: Op) -> None:
        op.arg, op.rows = self._land()

    def run_op(self, spark, op: Op):
        return self._drain(spark, op)

    def _drain(self, spark, op: Op):
        from lms_etl_pipeline_spark import streaming
        from lms_etl_pipeline_spark.sinks.jdbc_upsert import ledgered_batch_sink

        sink = ledgered_batch_sink(self.connect, "user_activity", ["lms_user_id"])
        if self.tr:
            sink = _wrapped(self.tr, "sinks.ledger", sink)
        with self.span("streaming.trigger"):
            q = streaming.run_available_now(
                streaming.file_stream(spark, self.landing, self.schema),
                sink, self.checkpoint,
            )
        if self.tr:
            op.groups["trigger"] = str(q.runId)
            op.info["progress"] = [p.durationMs for p in q.recentProgress]
        return q

    def trace_patches(self):
        from lms_etl_pipeline_spark.sinks import jdbc_upsert

        return [(jdbc_upsert, "upsert_via_foreach_partition", "sinks.upsert")]

    def check_op(self, op: Op, result) -> str | None:
        exc = result.exception()
        if exc is not None:
            return f"stream failed: {exc}"
        want = self.changes.expected()
        keys = self.keys[op.arg]
        got = target.read(self.db, "user_activity")
        return _diff({k: got.get(k) for k in keys}, {k: want[k] for k in keys})

    def final_check(self) -> str | None:
        return _diff(target.read(self.db, "user_activity"), self.changes.expected())


WORKLOADS = {w.name: w for w in (CatalogScan, CatalogIterative, LmsEtl, LmsStream)}
