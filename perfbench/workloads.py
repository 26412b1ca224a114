"""The benchmark's workloads, driven through sjot_spark's public API.

Each workload opens its generated inputs in ``setup``, runs one
operation per ``job`` call and compares that operation's output with
the generator's expectations in ``check``. ``layers`` runs the extra
probes of the traced mode; they are outside every end-to-end metric.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

from gen import ID_BUCKET, LEN_BUCKET

UNIQUE_KEY = "doc_id"
LAYER_REPS = 2


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _load_expect(path: str) -> dict:
    with open(os.path.join(path, "_expect.json")) as fh:
        return json.load(fh)


def check_verdicts(rows, expect: dict) -> list[str]:
    """Per-partition n_rows / n_violations / n_bad_rows / verdict.
    Every named partition must be reported as exactly one row. The
    NULL partition's rows are summed first: the engine may report it
    as one row of row counts plus one row of violation counts, and
    either shape is a correct report. Each partition's verdict must be
    "fail" exactly when its expected violation count is non-zero."""
    errors, merged, verdicts = [], {}, {}
    for r in rows:
        key = "\0null" if r["partition"] is None else r["partition"]
        if key in merged and r["partition"] is not None:
            errors.append(f"partition {key!r} reported in more than one row")
        acc = merged.setdefault(key, [0, 0, 0])
        for i, c in enumerate(("n_rows", "n_violations", "n_bad_rows")):
            acc[i] += r[c]
        if verdicts.get(key) != "fail":
            verdicts[key] = r["verdict"]
    if merged != expect["partitions"]:
        errors.append(f"partitions {merged} != expected {expect['partitions']}")
    want = {k: "fail" if v[1] else "pass" for k, v in expect["partitions"].items()}
    if verdicts != want:
        errors.append(f"verdicts {verdicts} != expected {want}")
    return errors


class SequenceWorkload:
    """Shared set-up and layer probes of the sequence workloads."""

    name = ""
    main_kind = ""
    rows = {}                      # size -> rows of the main input
    engine_options: dict = {}
    # warm repeats at least: they keep getting faster for five or more,
    # and with five the median of the last three moved by a quarter
    # between runs of one workload
    min_warm = 10
    unique_key = UNIQUE_KEY
    violation_rows = 0

    def inputs(self, size: str, traced: bool) -> dict:
        return {"main": (self.main_kind, self.rows[size])}

    def prepare(self, work: str, paths: dict, manifests: dict) -> None:
        """The generator wrote this input's expectations beside it."""

    def spec(self) -> dict:
        from sjot_spark.fixtures import SEQUENCE_SPEC

        return SEQUENCE_SPEC

    def setup(self, spark, paths: dict) -> None:
        from sjot_spark import ValidationEngine
        from sjot_spark.fixtures import make_allowed_sources

        self.spark, self.paths = spark, paths
        # opening an input lists its files and resolves the schema
        self.df = spark.read.parquet(paths["main"])
        self.df.schema
        self.dims = {"allowed_sources": make_allowed_sources(spark)}
        self.dims["allowed_sources"].schema
        self.engine = ValidationEngine(self.spec(), **self.engine_options)
        self.expect = _load_expect(paths["main"])

    def final_check(self) -> list[str]:
        return []

    def plan_frames(self) -> list:
        """The executed DataFrames whose final plans the traced run reads."""
        return [self.last.verdicts]

    def traced_layers(self, tr, layer: dict, reading: dict, manifest: dict,
                      warm_s: float) -> None:
        """This layer's rows of the per-layer table, from the spans, the
        median traced repeat's reading and the layer probes."""
        from sjot_spark import CheckSpec

        def med_ms(fn, reps=5):
            return 1e3 * statistics.median(timed(fn)[0] for _ in range(reps))

        layer["spec.check_ms"] = med_ms(lambda: CheckSpec(self.spec()).check())
        layer["compiler.compile_ms"] = med_ms(lambda: self.engine.compile(self.df))
        layer["compiler.row_checks"] = len(self.engine.compile(self.df).row_checks)
        for name, key, scale in (("engine.build", "engine.build_ms", 1e3),
                                 ("engine.verdicts", "engine.verdicts_s", 1),
                                 ("engine.sink", "engine.sink_s", 1)):
            if tr.durations(name):
                layer[key] = scale * statistics.median(tr.durations(name))
        layer["engine.violation_rows"] = self.violation_rows
        layer["engine.read_amplification"] = reading["scan_file_bytes"] / manifest["bytes"]
        layer["engine.unique_combine_ratio"] = (reading.get("unique_exchange_rows", 0)
                                                / manifest["rows"])
        layer["engine.over_floor"] = warm_s / layer["scan.floor_s"]

    def layers(self) -> tuple[dict, list[str]]:
        """Traced-only probes, each on fresh DataFrames after clearing
        the cache: the row-check flags, the violations, and the scan
        floor (a bare read of the same columns)."""
        def probe(fn):
            times = []
            for _ in range(LAYER_REPS):
                self.spark.catalog.clearCache()
                times.append(timed(fn)[0])
            return statistics.median(times)

        def fresh():
            return self.engine.run(self.df, dims=self.dims, persist_violations=False)

        floor = self.spark.read.parquet(self.paths["main"]).selectExpr(
            "sum(size(tokens))", "bit_xor(xxhash64(doc_id))", "sum(n_tok)", "count(source)")
        return {
            "engine.flags_s": probe(lambda: _noop(fresh().flags.where("NOT passed"))),
            "engine.violations_s": probe(lambda: _noop(fresh().violations)),
            "scan.floor_s": probe(floor.collect),
        }, []


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ValidateLong(SequenceWorkload):
    """The flagship verdict-only gate: run(persist_violations=False)
    then verdicts.collect() over the long-sequence table. Its traced
    run also measures the drift layer over the same table."""

    name = "validate_long"
    main_kind = "long"
    rows = {"full": 100_000, "tiny": 4_000}
    # the generator never writes NULL token elements into this table
    engine_options = {"assume_nonnull_elements": True}

    def inputs(self, size: str, traced: bool) -> dict:
        """Traced runs also read the drift layer's baseline table."""
        base = {"base": ("base", self.rows[size] // 3)} if traced else {}
        return {"main": ("long", self.rows[size]), **base}

    def job(self, tr):
        with tr.span("engine.build"):
            res = self.engine.run(self.df, dims=self.dims, persist_violations=False)
        with tr.span("engine.verdicts"):
            rows = res.verdicts.collect()
        self.last = res
        return rows

    def check(self, rows) -> list[str]:
        return check_verdicts(rows, self.expect)

    def final_check(self) -> list[str]:
        """Per-check violation counts: one more, untimed, pass."""
        from pyspark.sql import functions as F

        res = self.engine.run(self.df, dims=self.dims, persist_violations=False)
        got = {r["check_id"]: r["n"] for r in
               res.violations.groupBy("check_id").agg(F.count("*").alias("n")).collect()}
        self.violation_rows = sum(got.values())
        return [] if got == self.expect["per_check"] else [
            f"per-check counts {got} != expected {self.expect['per_check']}"]

    def layers(self) -> tuple[dict, list[str]]:
        got, errors = super().layers()
        drift = DriftLayer(self.spark, self.df, self.paths, self.expect)
        more, drift_errors = drift.measure()
        return {**got, **more}, errors + drift_errors


class ValidateDirty(SequenceWorkload):
    """The full report: run() with persisted violations, violations
    written to a parquet sink, then verdicts collected."""

    name = "validate_dirty"
    main_kind = "dirty"
    rows = {"full": 500_000, "tiny": 20_000}

    def job(self, tr):
        with tr.span("engine.build"):
            res = self.engine.run(self.df, dims=self.dims)
        with tr.span("engine.sink"):
            res.violations.write.mode("overwrite").parquet(self.paths["sink"])
        with tr.span("engine.verdicts"):
            rows = res.verdicts.collect()
        self.last = res
        return rows

    def check(self, rows) -> list[str]:
        errors = check_verdicts(rows, self.expect)
        sink = pq.read_table(self.paths["sink"])
        got = Counter(zip(*(sink.column(c).to_pylist()
                            for c in ("key", "partition", "check_id"))))
        want = Counter({(k, p, c): n for k, p, c, n in self.expect["violations"]})
        if got != want:
            diff = list((got - want).items())[:3] + list((want - got).items())[:3]
            errors.append(f"sink violations differ from expected, e.g. {diff}")
        self.violation_rows = sink.num_rows
        return errors


def chi2_two_sample(r: list[float], s: list[float]) -> tuple[float, int]:
    """Two-sample chi-square statistic and degrees of freedom over the
    buckets that either histogram fills (the spec's declared test)."""
    n1, n2 = sum(r), sum(s)
    if n1 == 0 or n2 == 0:
        return 0.0, 0
    k1, k2 = math.sqrt(n2 / n1), math.sqrt(n1 / n2)
    keep = [(a, b) for a, b in zip(r, s) if a + b > 0]
    return (sum((k1 * a - k2 * b) ** 2 / (a + b) for a, b in keep),
            max(len(keep) - 1, 1))


class DriftLayer:
    """plan.drift over the long table: profile() of a clean baseline
    at a second seed stored through save_profile/load_profile, then
    drift() with the length histogram by source and the JVM token-id
    histogram. Every result is checked against the generator's exact
    histograms."""

    TABLE = {
        "key": "doc_id", "partition_by": "source",
        "drift": {
            "len_hist": {"kind": "length_histogram", "column": "tokens",
                         "bucket_width": LEN_BUCKET, "group_by": "source"},
            "id_hist": {"kind": "value_histogram", "column": "tokens",
                        "bucket_width": ID_BUCKET, "group_by": None},
        },
    }
    SCHEMA = "group string, bucket int, cnt long"

    def __init__(self, spark, df, paths: dict, expect: dict):
        from sjot_spark import ValidationEngine
        from sjot_spark.fixtures import SEQUENCE_SPEC

        self.spark, self.df, self.paths, self.expect = spark, df, paths, expect
        self.base_expect = _load_expect(paths["base"])
        self.engine = ValidationEngine(dict(SEQUENCE_SPEC, **{"@table": self.TABLE}))

    def measure(self) -> tuple[dict, list[str]]:
        from sjot_spark.plan import drift as plan_drift

        def stored_profile():
            base = self.spark.read.parquet(self.paths["base"])
            self.engine.save_profile(self.engine.profile(base), self.paths["profile"])
            return self.engine.load_profile(self.spark, self.paths["profile"])

        profile_s, baselines = timed(stored_profile)
        base_rows = {k: v.collect() for k, v in baselines.items()}
        errors = self.check_hists(base_rows, self.base_expect)

        hist_s = []
        for _ in range(LAYER_REPS):
            self.spark.catalog.clearCache()
            hists = self.engine.profile(self.df)
            dt, cur_rows = timed(lambda: {k: v.collect() for k, v in hists.items()})
            hist_s.append(dt)
        errors += self.check_hists(cur_rows, self.expect)

        local = {k: self.spark.createDataFrame(v, self.SCHEMA) for k, v in cur_rows.items()}
        base = {k: self.spark.createDataFrame(v, self.SCHEMA) for k, v in base_rows.items()}
        clauses = {c.name: c for c in self.engine.spec.table.drift}
        test_ms = [1e3 * timed(lambda: [plan_drift.drift_test(local[k], base[k], clauses[k])
                                         for k in clauses])[0] for _ in range(3)]
        self.spark.catalog.clearCache()
        errors += self.check_results(self.engine.drift(self.df, baselines))
        return {"drift.profile_s": profile_s, "drift.hist_s": statistics.median(hist_s),
                "drift.test_ms": statistics.median(test_ms)}, errors

    @staticmethod
    def check_hists(rows: dict, expect: dict) -> list[str]:
        return [f"{name} histogram differs from the generator's counts"
                for name in ("len_hist", "id_hist")
                if sorted([r["group"], r["bucket"], r["cnt"]] for r in rows[name])
                != sorted(expect[name], key=lambda x: (str(x[0]), x[1]))]

    def check_results(self, results: list[dict]) -> list[str]:
        want = {}
        for name in ("len_hist", "id_hist"):
            cur = {(g, b): c for g, b, c in self.expect[name]}
            base = {(g, b): c for g, b, c in self.base_expect[name]}
            for g in {g for g, _ in cur} | {g for g, _ in base}:
                buckets = sorted({b for gg, b in cur if gg == g}
                                 | {b for gg, b in base if gg == g})
                want[(name, g)] = chi2_two_sample([cur.get((g, b), 0) for b in buckets],
                                                  [base.get((g, b), 0) for b in buckets])
        got = {(r["check_id"], r["group"]): (r["stat"], r["dof"]) for r in results}
        if set(got) != set(want):
            return [f"drift groups {sorted(got)} != expected {sorted(want)}"]
        return [f"{k}: stat/dof {got[k]} != expected {want[k]}" for k in want
                if got[k][1] != want[k][1]
                or not math.isclose(got[k][0], want[k][0], rel_tol=1e-9, abs_tol=1e-9)]


class QuerySuite:
    """The 21 queries of bench.py's DRIVER_QUERIES over the fixed sf0.1
    tables. One job builds every query on fresh DataFrames and collects
    its result; each result is checked against the row count and
    order-insensitive value hash of the query's DuckDB twin in
    ``sjot_spark.queries.ORACLES``."""

    name = "query_suite"
    min_warm = 1                   # one repeat takes about as long as the rest of a run
    unique_key = None
    NORM_VERSION = 1

    def inputs(self, size: str, traced: bool) -> dict:
        return {"main": ("sf0.1", 0)}

    def prepare(self, work: str, paths: dict, manifests: dict) -> None:
        """Expected results from DuckDB, computed once per input and
        oracle text and cached; never timed."""
        from bench import DRIVER_QUERIES
        from sjot_spark.queries import ORACLES

        self.queries = list(DRIVER_QUERIES)
        oracles = {q: ORACLES[q] for q in self.queries}
        key = hashlib.sha256(json.dumps([manifests["main"]["sha256"], oracles,
                                         self.NORM_VERSION]).encode()).hexdigest()[:16]
        path = os.path.join(work, "expect", f"query_suite-{key}.json")
        if not os.path.exists(path):
            import duckdb

            con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4})
            for f in manifests["main"]["files"]:
                con.execute(f"CREATE VIEW {f['name'].removesuffix('.parquet')} AS "
                            f"SELECT * FROM read_parquet('{paths['main']}/{f['name']}')")
            expect = {}
            for q, sql in oracles.items():
                res = con.execute(sql)
                expect[q] = result_digest([d[0] for d in res.description], res.fetchall())
            con.close()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as fh:
                json.dump(expect, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            self.expect = json.load(fh)

    def setup(self, spark, paths: dict) -> None:
        from sjot_spark.queries import QUERIES

        self.spark, self.data, self.build = spark, paths["main"], QUERIES
        # opening the inputs lists each table's file and resolves its schema
        for name in sorted(os.listdir(self.data)):
            if name.endswith(".parquet"):
                spark.read.parquet(os.path.join(self.data, name)).schema
        self.rounds: list[dict] = []

    def job(self, tr):
        out, times, self.last_dfs = {}, {}, []
        for q in self.queries:
            with tr.span("queries.build"):
                t0 = time.perf_counter()
                df = self.build[q](self.spark, self.data)
                df.schema
                t1 = time.perf_counter()
            with tr.span("queries.exec"):
                rows = df.collect()
            times[q] = (t1 - t0, time.perf_counter() - t1)
            out[q] = (df.columns, rows)
            self.last_dfs.append(df)
        self.rounds.append(times)
        return out

    def check(self, out) -> list[str]:
        errors = []
        for q in self.queries:
            cols, rows = out[q]
            got = result_digest(cols, [tuple(r) for r in rows])
            if got != self.expect[q]:
                errors.append(f"{q}: {got} != oracle {self.expect[q]}")
        return errors

    def final_check(self) -> list[str]:
        return []

    def plan_frames(self) -> list:
        return self.last_dfs

    def layers(self) -> tuple[dict, list[str]]:
        """Count the RepartitionByExpression nodes that load_par put
        straight over a scan, in freshly built query plans."""
        n = 0
        for q in self.queries:
            stack = [self.build[q](self.spark, self.data)._jdf.queryExecution().analyzed()]
            while stack:
                node = stack.pop()
                kids = [node.children().apply(i) for i in range(node.children().size())]
                if (node.getClass().getSimpleName() == "RepartitionByExpression"
                        and kids[0].getClass().getSimpleName() == "LogicalRelation"):
                    n += 1
                stack.extend(kids)
        return {"queries.repartitions": n}, []

    def traced_layers(self, tr, layer: dict, reading: dict, manifest: dict,
                      warm_s: float) -> None:
        cold, warm = self.rounds[0], self.rounds[1:]
        layer["queries.build_s"] = sum(b for b, _ in cold.values())
        layer["queries.cold_exec_s"] = sum(e for _, e in cold.values())
        layer["queries.warm_exec_s"] = sum(
            statistics.median(r[q][1] for r in warm) for q in self.queries)
        for q in self.queries:
            layer[f"q.{q}.cold_s"] = sum(cold[q])
            layer[f"q.{q}.warm_s"] = statistics.median(sum(r[q]) for r in warm)


def _norm(v):
    """A result value in a form both engines agree on: numbers other
    than integers to nine significant digits, timestamps as ISO text,
    nested values element by element."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else f"{f + 0.0:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_norm(v[k]) for k in sorted(v))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return repr(v)


def result_digest(cols: list[str], rows) -> dict:
    """Row count and an order-insensitive SHA-256 of a result, its
    columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(norm).encode()).hexdigest()
    return {"columns": sorted(cols), "rows": len(norm), "hash": h}


WORKLOADS = {w.name: w for w in (ValidateLong, ValidateDirty, QuerySuite)}
