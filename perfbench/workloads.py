"""The perfbench workloads: one timed op each, and its output check.

Each workload reads only the generator's files. ``op`` is the unit the
benchmark times; ``check`` compares what an op wrote against an
independent computation (DuckDB over the same parquet, and the
generator's expected rows) and returns a list of problems, empty when the
op's outputs are correct. ``probes`` runs once after the traced ops to
time layers that execute inside another layer's Spark job.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
from pyspark.sql import functions as F

from schisma_spark import Field, schema
from schisma_spark import manifest as manifest_mod
from schisma_spark import runner as runner_mod
from schisma_spark.image import decode as decode_mod
from schisma_spark.checks import fk_violations, uniqueness_violations
from schisma_spark.image.fixtures import images_schema_dsl
from schisma_spark.json_validate import conform_json, validate_json
from schisma_spark.manifest import Manifest
from schisma_spark.runner import RunConfig, ValidationRun
from schisma_spark.sources import write_table
from schisma_spark.validate import incremental_validate
from schisma_spark.variant_validate import validate_variant

#: events payload schema for the variant and conform paths: nested object,
#: array, regex-matched keys, defaults for conform
EVENT_SCHEMA = {
    "k": Field(type=float, default=-1.0),
    "name": Field(type=str, default="anon"),
    "tags": Field(type=[str], required=False),
    "nested": Field(typeof=[{"a": float, "b": Field(type=str, default="x")}],
                    required=False),
    "$/^x_": [str],
}
#: flat twin for json_validate, whose values arrive as JSON scalars; keys
#: carrying arrays or objects are unexpected there
EVENT_SCHEMA_FLAT = {
    "k": Field(type=float, default=-1.0),
    "name": Field(type=str, default="anon"),
    "$/^x_": [str],
}


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(path) for f in fs)


def _diff(con, got_sql: str, want_sql: str, what: str) -> list[str]:
    """Multiset difference both ways; NULLs compare equal."""
    extra = con.execute(f"select count(*) from ({got_sql} except all {want_sql})").fetchone()[0]
    missing = con.execute(f"select count(*) from ({want_sql} except all {got_sql})").fetchone()[0]
    if extra or missing:
        return [f"{what}: {extra} unexpected rows, {missing} missing rows"]
    return []


class Workload:
    name = ""
    rows_per_op = 0
    #: fewest timed ops in a run. Ops keep getting faster for minutes as
    #: the JIT compiles Spark's planner, so the median over a time window
    #: alone would move with the host's speed: a slow host fits fewer and
    #: colder ops. A floor that already fills the window keeps the median
    #: on the same ops.
    min_ops = 2

    def __init__(self, spark, data: str, run_dir: str, tracer):
        self.spark, self.data, self.dir, self.tr = spark, data, run_dir, tracer
        with open(os.path.join(data, "planted.json")) as fh:
            self.planted = json.load(fh)
        self.con = duckdb.connect()

    def write(self, df, path: str, **kw) -> None:
        with self.tr.span("sources.write"):
            before = _data_files(path) if self.tr.enabled else 0
            write_table(df, path, **kw)
            if self.tr.enabled:
                self.tr.count("files_written", _data_files(path) - before)

    def build(self) -> None:
        """Schema construction; set-up runs it several times."""

    def prepare(self) -> None:
        """One-time set-up after the schema is built."""

    def warmup(self) -> None:
        """One untimed op on a small slice of the input, so that the timed
        ops run with the JVM and the Python workers warm. A second one
        costs another 6-10 s per run and did not narrow the spread."""
        self.op(0, warm=True)

    def trace_wraps(self) -> None:
        """Wrap engine attributes whose calls happen inside the engine."""

    def final_check(self, last: dict) -> list[str]:
        """Checks over the whole run, after every op's own check."""
        return []

    def close(self) -> None:
        self.con.close()


class _StatsPipeline(Workload):
    """ValidationRun.run_resumable with uniqueness on image_id and phash, the
    fmt FK check against the format dimension, and parquet sinks."""

    def build(self) -> None:
        self.run = ValidationRun(images_schema_dsl(), RunConfig())

    def dims(self):
        dim = self.spark.read.parquet(os.path.join(self.data, "dim_fmt"))
        return {("fmt",): (dim, ("fmt",))}

    def resumable(self, df, out: str):
        self.last_input = df

        def sinks(viols, verds):
            with self.tr.span("sources.sinks"):
                self.write(viols, os.path.join(out, "violations"), partition_by=["part"])
                self.write(verds, os.path.join(out, "verdicts"))

        with self.tr.span("runner.run_resumable"):
            return self.run.run_resumable(
                df, os.path.join(out, "manifest"), dims=self.dims(), sinks=sinks)

    def trace_wraps(self) -> None:
        t = self.tr
        t.wrap(manifest_mod, "plan_remaining", "manifest.plan_remaining")
        t.wrap(Manifest, "append", "manifest.append")
        t.wrap(Manifest, "records", "manifest.records")
        t.wrap(runner_mod, "validate", "compiler.build")
        t.wrap(runner_mod, "uniqueness_violations", "checks.build")
        t.wrap(runner_mod, "fk_violations", "checks.build")
        # the session's concrete DataFrame class defines collect itself
        t.wrap(type(self.spark.range(0)), "collect", "spark.collect")

    def probes(self) -> dict:
        """Layers that run inside the violations sink's job, timed alone on
        the last op's input (a noop write forces each without output)."""
        df, ident = self.last_input, ["image_id", "part"]
        qe = self.run.violations(df, self.dims())._jdf.queryExecution()
        with self.tr.span("compiler.plan"):
            out = {"compiler.plan_chars": len(qe.optimizedPlan().toString())}
        with self.tr.span("validate.violations"):
            self.run.row_pass(df).violations.write.format("noop").mode("overwrite").save()
        with self.tr.span("checks.uniqueness"):
            for cols in self.run.config.unique_on:
                uniqueness_violations(df, list(cols), keys=ident) \
                    .write.format("noop").mode("overwrite").save()
        with self.tr.span("checks.fk"):
            (dim, pk), = self.dims().values()
            fk_violations(df, dim, ["fmt"], list(pk), keys=ident) \
                .write.format("noop").mode("overwrite").save()
        return out

    def _check_sinks(self, out: str, parts: list[int]) -> list[str]:
        inlist = ",".join(str(p) for p in parts)
        exp_v = os.path.join(self.data, "expected_violations")
        exp_d = os.path.join(self.data, "expected_verdicts")
        problems = _diff(
            self.con,
            f"select image_id, part::int as part, code, \"where\" from {_pq(out + '/violations')}",
            f"select image_id, part, code, \"where\" from {_pq(exp_v)} where part in ({inlist})",
            "violations")
        problems += _diff(
            self.con,
            f"select part, n_rows, n_violations, n_bad_rows, verdict from {_pq(out + '/verdicts')}",
            f"select part, n_rows, n_violations, n_bad_rows, verdict from {_pq(exp_d)} "
            f"where part in ({inlist})",
            "verdicts")
        return problems

    def _check_manifest(self, recs: list[dict], parts: list[int]) -> list[str]:
        exp_d = os.path.join(self.data, "expected_verdicts")
        want = {r[0]: r[1:] for r in self.con.execute(
            f"select part::varchar, n_rows, n_violations, n_bad_rows, verdict "
            f"from {_pq(exp_d)}").fetchall()}
        got = {r["partition"]: (r["n_rows"], r["n_violations"], r["n_bad_rows"], r["verdict"])
               for r in recs}
        if sorted(got) != sorted(str(p) for p in parts):
            return [f"manifest partitions {sorted(got)} != {sorted(parts)}"]
        bad = [p for p in got if got[p] != want[p]]
        return [f"manifest records differ for partitions {bad}"] if bad else []


class Backfill(_StatsPipeline):
    """The bulk job over a new table: one run_resumable with every partition
    new (stats path, checks, sinks, manifest), then the payload pass:
    Arrow-batched decode + fidelity checks and caption equality against the
    reference table. The stats path never reads ``bytes``; the payload pass
    does, in Python workers."""

    name = "backfill"

    def __init__(self, *a):
        super().__init__(*a)
        self.table = os.path.join(self.data, "images")
        self.rows_per_op = self.planted["rows"]
        self.parts = list(range(self.planted["partitions"]))

    def op(self, i: int, warm: bool = False) -> dict:
        out = os.path.join(self.dir, "warm" if warm else f"op{i}")
        df = self.spark.read.parquet(self.table)
        if warm:
            df = df.where(F.col("part") == 0)
        res = self.resumable(df, out)
        ref = self.spark.read.parquet(os.path.join(self.data, "ref"))
        with self.tr.span("decode.validate"):
            dec = decode_mod.decode_validate(df)
            bad = dec.where(~(F.col("decode_ok") & F.col("pixels_ok") & F.col("size_ok")))
            self.write(bad, os.path.join(out, "decode"))
        with self.tr.span("decode.caption"):
            self.write(decode_mod.caption_violations(df, ref), os.path.join(out, "caption"))
        return {"out": out, "records": res.manifest_records}

    def check(self, info: dict) -> list[str]:
        out = info["out"]
        problems = (self._check_sinks(out, self.parts)
                    + self._check_manifest(info["records"], self.parts))
        problems += _diff(
            self.con,
            f"select image_id, case when not decode_ok then 'decode' "
            f"when not size_ok then 'size' else 'pixels' end from {_pq(out + '/decode')}",
            f"select image_id, kind from {_pq(self.data + '/expected_decode')}",
            "decode")
        # caption oracle: DuckDB's own join of the table with the reference
        problems += _diff(
            self.con,
            f"select image_id, part::int, code, \"where\" from {_pq(out + '/caption')}",
            f"select i.image_id, i.part::int, 'invalid', 'caption' from {_pq(self.table)} i "
            f"left join {_pq(self.data + '/ref')} r on i.image_id = r.image_id "
            f"where i.caption is distinct from r.caption",
            "caption")
        return problems


class Ingest(_StatsPipeline):
    """Closed loop, one client: land one batch partition, validate only it,
    land the next after the call returns. Set-up validates the base table,
    so its partitions are already marked done when the loop starts."""

    name = "ingest"

    def __init__(self, *a):
        super().__init__(*a)
        self.table = os.path.join(self.dir, "table")
        self.out = os.path.join(self.dir, "sinks")
        self.base_parts = self.planted["base_partitions"]
        self.rows_per_op = self.planted["batch_rows"]
        self.next_part = self.base_parts
        self.landed = list(range(self.base_parts))

    def land(self) -> int:
        p = self.next_part
        if p >= self.base_parts + self.planted["batches"]:
            raise RuntimeError("ingest: generator batches exhausted")
        shutil.copytree(os.path.join(self.data, "batches", f"part={p}"),
                        os.path.join(self.table, f"part={p}"))
        self.next_part += 1
        self.landed.append(p)
        return p

    def prepare(self) -> None:
        shutil.copytree(os.path.join(self.data, "base"), self.table)
        self.resumable(self.spark.read.parquet(self.table), self.out)

    def warmup(self) -> None:
        """Validating the base in prepare() already warmed the session."""

    def op(self, i: int) -> dict:
        part = self.land()
        res = self.resumable(self.spark.read.parquet(self.table), self.out)
        return {"part": part, "records": res.manifest_records}

    def check(self, info: dict) -> list[str]:
        return self._check_manifest(info["records"], [info["part"]])

    def final_check(self, last: dict) -> list[str]:
        """Sinks hold exactly the landed partitions' violations and verdicts,
        and the manifest's metrics equal a full recount of the table."""
        problems = self._check_sinks(self.out, self.landed)
        m = Manifest(os.path.join(self.out, "manifest")).metrics()
        inlist = ",".join(str(p) for p in self.landed)
        n_rows, n_parts = self.con.execute(
            f"select count(*), count(distinct part) from {_pq(self.table)}").fetchone()
        n_viol = self.con.execute(
            f"select coalesce(sum(n_violations), 0) from "
            f"{_pq(os.path.join(self.data, 'expected_verdicts'))} "
            f"where part in ({inlist})").fetchone()[0]
        want = {"n_partitions": n_parts, "n_rows": n_rows,
                "n_violations": n_viol, "n_bad_rows": n_viol}
        if m != want:
            problems.append(f"manifest metrics {m} != recount {want}")
        return problems


class EventsJson(Workload):
    """validate_json, validate_variant and conform_json over snapshot v1,
    then incremental_validate from v1 to v2 (3% of rows removed, re-drawn
    or added)."""

    name = "events_json"
    min_ops = 1  # an op takes 8-15 s: one fills the window

    def __init__(self, *a):
        super().__init__(*a)
        self.rows_per_op = self.planted["rows"]
        self.sch = self.flat = self.delta_input = None

    def _vfn(self, df):
        self.delta_input = df
        with self.tr.span("compiler.build"):
            return validate_json(df, "payload", self.flat, keys=["event_id"]).violations

    def op(self, i: int, warm: bool = False) -> dict:
        out = os.path.join(self.dir, "warm" if warm else f"op{i}")
        v1 = self.spark.read.parquet(os.path.join(self.data, "v1"))
        v2 = self.spark.read.parquet(os.path.join(self.data, "v2"))
        if warm:
            v1, v2 = (v.where(F.col("event_id") % 16 == 0) for v in (v1, v2))
        with self.tr.span("json_validate.validate"):
            with self.tr.span("compiler.build"):
                jv = validate_json(v1, "payload", self.flat, keys=["event_id"]).violations
            self.write(jv, os.path.join(out, "json"))
        with self.tr.span("variant_validate.validate"):
            with self.tr.span("compiler.build"):
                vv = validate_variant(v1, "payload", self.sch, keys=["event_id"]).violations
            self.write(vv, os.path.join(out, "variant"))
        with self.tr.span("conform.conform_json"):
            with self.tr.span("compiler.build"):
                cj = conform_json(v1, "payload", self.sch)
            self.write(cj, os.path.join(out, "conform"))
        with self.tr.span("validate.incremental"):
            prior = self.spark.read.parquet(os.path.join(out, "json"))
            with self.tr.span("compiler.incremental"):
                inc = incremental_validate(v1, v2, "event_id", "payload", self._vfn, prior)
            self.write(inc, os.path.join(out, "incremental"))
        return {"out": out}

    def build(self) -> None:
        self.sch, self.flat = schema(EVENT_SCHEMA), schema(EVENT_SCHEMA_FLAT)

    def probes(self) -> dict:
        v1 = self.spark.read.parquet(os.path.join(self.data, "v1"))
        qes = [df._jdf.queryExecution() for df in (
            validate_json(v1, "payload", self.flat, keys=["event_id"]).violations,
            validate_variant(v1, "payload", self.sch, keys=["event_id"]).violations,
            conform_json(v1, "payload", self.sch))]
        with self.tr.span("compiler.plan"):
            n = sum(len(qe.optimizedPlan().toString()) for qe in qes)
        with self.tr.span("validate.delta_count"):
            delta = self.delta_input.count()
        return {"compiler.plan_chars": n,
                "validate.delta_share": delta / self.planted["v2_rows"]}

    def check(self, info: dict) -> list[str]:
        out, d = info["out"], self.data
        ev = "select event_id, code, \"where\" from "
        problems = _diff(self.con, ev + _pq(out + "/json"),
                         ev + _pq(d + "/expected_json_v1"), "validate_json")
        problems += _diff(self.con, ev + _pq(out + "/variant"),
                          ev + _pq(d + "/expected_variant_v1"), "validate_variant")
        problems += _diff(self.con, "select event_id, payload from " + _pq(out + "/conform"),
                          "select event_id, payload from " + _pq(d + "/expected_conform_v1"),
                          "conform_json")
        problems += _diff(self.con, ev + _pq(out + "/incremental"),
                          ev + _pq(d + "/expected_json_v2"), "incremental_validate")
        return problems

    def final_check(self, last: dict) -> list[str]:
        """incremental == full revalidation of v2, on the last op."""
        full = os.path.join(self.dir, "full_v2")
        v2 = self.spark.read.parquet(os.path.join(self.data, "v2"))
        write_table(validate_json(v2, "payload", self.flat, keys=["event_id"]).violations, full)
        ev = "select event_id, code, \"where\" from "
        return _diff(self.con, ev + _pq(last["out"] + "/incremental"), ev + _pq(full),
                     "incremental vs full revalidation")


WORKLOADS = {w.name: w for w in (Backfill, Ingest, EventsJson)}
