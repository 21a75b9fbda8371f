"""The workloads. Each one calls the package's public functions the way a
user or the CLI does, in an order its seed chooses.

An operation (``op``) is one full pass of a workload and is made of steps:
one public call of the schema plane (``DdlEstate``), one migrated table
(``MigrateStar``), one registry entry (``QueryMix``). ``op`` returns per-step
wall times and the raw outputs; ``check`` inspects those outputs after the
timed region and returns a failure reason per failed step.

Two workloads are run: ``estate_migrate`` (a ``DdlEstate`` pass, then a
``MigrateStar`` pass, in one operation) and ``query_mix``.

With a recording tracer the same calls are made; ``instrument`` wraps the
package's functions from outside so that each call into a layer is timed
and counted, and the benchmark's own calls carry spans in both modes (a
``NullTracer`` records nothing).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass

import estate as estate_gen
import star

PDF_STAMP = "2026-01-01 00:00:00"

# query_mix: registry entry -> the operator module whose code it runs. At
# least one entry per operator module the analytics surface reaches (codegen
# joins and aggregates, result fetch, eager pins, Python UDFs, an iterative
# loop, a streaming drain), few enough that a cold pass stays near 30 s on
# four cores.
MIX = {
    "q1_pricing_summary": "relational",
    "q9_product_profit": "relational_ext",
    "window_topk_per_group": "relational",
    "dedup_simhash": "dedup",
    "ann_ivf_topk": "similarity",
    "text_quality_score": "textstats",
    "bpe_encode_stats": "corpus",
    "graph_kcore": "graph",
    "stat_spearman_corr": "analytics",
    "streaming_heavy_hitters": "streaming",
}


@dataclass
class Context:
    root: str
    data_dir: str
    run_dir: str
    seed: int
    manifest: dict


@dataclass
class Step:
    name: str
    seconds: float
    error: str | None = None


def _timed(steps: list, name: str, fn):
    """Run one step; an exception fails the step, not the run."""
    t = time.perf_counter()
    try:
        out = fn()
        err = None
    except Exception:
        out = None
        err = traceback.format_exc(limit=3).strip().splitlines()[-1]
    steps.append(Step(name, time.perf_counter() - t, err))
    return out


def _digest(*texts: str) -> str:
    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def _pdf_problem(pdf: bytes) -> str | None:
    if not pdf.startswith(b"%PDF-") or not pdf.rstrip().endswith(b"%%EOF"):
        return "PDF header or trailer missing"
    tail = pdf[pdf.rfind(b"startxref"):].split()
    if len(tail) < 2 or not pdf[int(tail[1]):].startswith(b"xref"):
        return "PDF startxref does not point at the xref table"
    if pdf.count(b"/Type /Page\n") + pdf.count(b"/Type /Page ") \
            + pdf.count(b"/Type /Page>") < 1:
        return "PDF has no page"
    return None


def _count_statements(ddl: str, *prefixes: str) -> int:
    return sum(1 for line in ddl.splitlines() if line.startswith(prefixes))


def _count_parse(tracer, args, tables) -> None:
    tracer.add("ddl.tables", len(tables))
    tracer.add("ddl.errors", len(getattr(args[0], "errors", ())))


class DdlEstate:
    """``assess --pdf`` and ``convert`` (both dialects) over a generated
    estate, plus the Spark catalog twin of the assessment."""

    name = "ddl_estate"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.estate = estate_gen.generate(ctx.seed)
        self.digests: set[str] = set()

    def imports(self) -> None:
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import (  # noqa: F401
            assess, catalog, convert, ddl, mapping, model, report_pdf)

    def items(self) -> int:
        return self.estate.tables

    def instrument(self, tracer) -> None:
        """Time the layers the composite calls reach, from outside."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import (
            assess, convert, mapping, report_pdf)
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.ddl import (
            db2_parser, snowflake_parser)

        tracer.wrap(db2_parser.DB2DdlParser, "parse", "ddl.parse",
                    count=_count_parse)
        tracer.wrap(snowflake_parser.SnowflakeDdlParser, "parse",
                    "ddl.sf_parse", count=_count_parse)
        tracer.wrap(mapping, "map_db2_type", "mapping.map", record=False,
                    count=lambda tr, args, out: tr.add("mapping.columns", 1))
        tracer.wrap(assess.Assessor, "assess_tables", "assess.assess",
                    count=lambda tr, args, r: tr.add(
                        "assess.issues", len(r.critical_issues)
                        + len(r.warnings) + len(r.info_items)))
        tracer.wrap(report_pdf, "generate_assessment_pdf", "report_pdf.render",
                    count=lambda tr, args, pdf: tr.add("report_pdf.bytes",
                                                       len(pdf)))
        tracer.wrap(convert.IcebergDdlGenerator, "convert", "convert.convert")
        tracer.wrap(convert.SnowflakeToIcebergGenerator, "convert",
                    "convert.sf_convert")
        for gen, name in ((convert.IcebergDdlGenerator, "convert.emit"),
                          (convert.SnowflakeToIcebergGenerator,
                           "convert.sf_emit")):
            tracer.wrap(gen, "table_ddl", name, record=False,
                        count=lambda tr, args, r: tr.add(
                            "convert.ewi_markers", r[1]))

    def op(self, spark, tracer, index: int):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import (
            assess, catalog, convert, ddl, report_pdf)

        e = self.estate
        steps: list[Step] = []
        out: dict = {}

        def do_assess():
            report = assess.Assessor().assess(e.db2_ddl)
            json.dumps(report.to_dict(), indent=2, default=str)
            return report

        out["assess"] = _timed(steps, "assess", do_assess)
        out["report_pdf"] = _timed(
            steps, "report_pdf", lambda: report_pdf.generate_assessment_pdf(
                out["assess"], generated_at=PDF_STAMP))
        out["convert_db2"] = _timed(
            steps, "convert_db2",
            lambda: convert.IcebergDdlGenerator().convert(e.db2_ddl))
        out["convert_snowflake"] = _timed(
            steps, "convert_snowflake",
            lambda: convert.SnowflakeToIcebergGenerator().convert(
                e.snowflake_ddl))

        def do_catalog():
            tables = ddl.DB2DdlParser().parse(e.db2_ddl)
            tracer.group(spark, "catalog")
            with tracer.span("catalog.assess_catalog"):
                cat = catalog.schema_catalog_df(spark, tables)
                per_table = catalog.assess_catalog(cat).collect()
                dist = catalog.type_distribution(cat).collect()
            return (len(tables), sum(len(t.columns) for t in tables),
                    per_table, dist)

        out["catalog"] = _timed(steps, "catalog", do_catalog)
        if tracer.enabled:
            counts = tracer.spark_counts(spark, "catalog")
            for k, v in counts.items():
                tracer.add(f"spark.{k}", v)
            if index == 0:
                tracer.items["catalog"] = counts
                tracer.items["ddl"] = {
                    k: int(tracer.metrics[m]) for k, m in (
                        ("tables", "ddl.tables"),
                        ("ewi_markers", "convert.ewi_markers"))}
        return steps, out

    def check(self, steps: list[Step], out: dict) -> dict[str, str]:
        e = self.estate
        bad: dict[str, str] = {}
        report = out.get("assess")
        if report is not None and report.tables_total != e.db2_tables:
            bad["assess"] = (f"assessed {report.tables_total} tables, "
                             f"generated {e.db2_tables}")
        pdf = out.get("report_pdf")
        if pdf is not None and _pdf_problem(pdf):
            bad["report_pdf"] = _pdf_problem(pdf)
        r = out.get("convert_db2")
        if r is not None:
            n = _count_statements(r.iceberg_ddl, "CREATE OR REPLACE ")
            if not r.success or r.tables_converted != e.db2_tables \
                    or n != e.db2_tables:
                bad["convert_db2"] = (f"converted {r.tables_converted}, "
                                      f"{n} statements, {e.db2_tables} tables")
        s = out.get("convert_snowflake")
        if s is not None:
            n = _count_statements(s.iceberg_ddl, "CREATE OR REPLACE ",
                                  "-- !!!! ")
            if not s.success or s.tables_converted != e.snowflake_tables \
                    or n != e.snowflake_tables:
                bad["convert_snowflake"] = (
                    f"converted {s.tables_converted}, {n} statements, "
                    f"{e.snowflake_tables} tables")
        cat = out.get("catalog")
        if cat is not None:
            n_tables, n_cols, per_table, dist = cat
            if n_tables != e.db2_tables or len(per_table) != n_tables \
                    or sum(row["n"] for row in dist) != n_cols:
                bad["catalog"] = (f"{len(per_table)} assessed of {n_tables} "
                                  f"parsed, {e.db2_tables} generated")
        if r is not None and s is not None:
            self.digests.add(_digest(r.iceberg_ddl, s.iceberg_ddl))
            if len(self.digests) > 1:
                bad["convert_db2"] = "converted DDL differs between passes"
        return bad

    def info(self) -> dict:
        return {"converted_ddl_digest": sorted(self.digests),
                "db2_tables": self.estate.db2_tables,
                "snowflake_tables": self.estate.snowflake_tables,
                "ddl_bytes": len(self.estate.db2_ddl)
                + len(self.estate.snowflake_ddl)}


def _walk_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


class MigrateStar:
    """Parse the star DDL, migrate each table into a fresh directory, then
    reconcile it: row counts, content checksums of the cast source against
    the re-read target, and ``validate_table`` on the target."""

    name = "migrate_star"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.order = list(star.STAR_TABLES)
        random.Random(ctx.seed).shuffle(self.order)
        self.sources = ctx.manifest["sources"]
        self.bytes_written = 0

    def imports(self) -> None:
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import (  # noqa: F401
            catalog, ddl)
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (  # noqa: F401
            validate)
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.sources import (  # noqa: F401
            migrate, registry)

    def items(self) -> int:
        return sum(self.sources[t.lower()]["rows"] for t in star.STAR_TABLES)

    def instrument(self, tracer) -> None:
        """Time the cast plan ``migrate_table`` builds (the parse is wrapped
        by ``DdlEstate.instrument``)."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import catalog

        tracer.wrap(catalog, "cast_plan", "catalog.cast_plan", record=False)

    def source_bytes(self) -> int:
        return sum(self.sources[t.lower()]["bytes"] for t in star.STAR_TABLES)

    def op(self, spark, tracer, index: int):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import ddl

        steps: list[Step] = []
        out: dict = {}
        dest_root = out["dest_root"] = os.path.join(
            self.ctx.run_dir, f"migrate-{index}")
        tables = _timed(steps, "parse",
                        lambda: ddl.DB2DdlParser().parse(star.STAR_DDL))
        out["parse"] = tables
        by_name = {t.name: t for t in tables or []}
        for name in self.order:
            t = by_name.get(name)
            if t is None:
                steps.append(Step(name, 0.0, "table missing from parse"))
                continue
            src = os.path.join(self.ctx.data_dir, f"{name.lower()}.parquet")
            dst = os.path.join(dest_root, t.schema.lower(), name.lower())
            cols = [c.name for c in t.columns]
            tracer.group(spark, name)
            out[name] = _timed(steps, name, lambda: self._table(
                spark, tracer, t, src, dst, cols))
            if tracer.enabled:
                counts = tracer.spark_counts(spark, name)
                for k, v in counts.items():
                    tracer.add(f"spark.{k}", v)
                t0 = time.perf_counter()
                files, size = _walk_bytes(dst)
                tracer.overhead_s += time.perf_counter() - t0
                rows = out[name][1]["n_rows"] if out[name] else 0
                tracer.add("sources.files_written", files)
                tracer.add("sources.bytes_written", size)
                tracer.add("sources.rows_written", rows)
                tracer.set("cache.persisted_rdds", tracer.persisted_rdds(spark))
                if index == 0:
                    tracer.items[name] = {**counts, "files_written": files,
                                          "bytes_written": size,
                                          "rows_written": rows}
        return steps, out

    def _table(self, spark, tracer, t, src, dst, cols):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            validate)
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.sources import (
            migrate, registry)

        with tracer.span("sources.migrate"):
            casted = migrate.migrate_table(spark, t, src, dst)
        with tracer.span("validate.reconcile"):
            target = registry.read_table(spark, dst)
            src_sum = validate.reconcile_checksum(casted, cols).collect()[0]
            dst_sum = validate.reconcile_checksum(target, cols).collect()[0]
        with tracer.span("validate.validate"):
            violations = validate.validate_table(target, t).collect()
        return src_sum.asDict(), dst_sum.asDict(), \
            {r["check_name"]: r["n_violations"] for r in violations}

    def check(self, steps: list[Step], out: dict) -> dict[str, str]:
        bad: dict[str, str] = {}
        tables = out.get("parse") or []
        problems = star.check_star_tables(tables)
        if problems:
            bad["parse"] = "; ".join(problems)
        for t in tables:
            res = out.get(t.name)
            if res is None or not t.partition:
                continue
            dst = os.path.join(out["dest_root"], t.schema.lower(),
                               t.name.lower())
            key = f"{t.partition.columns[0]}="
            if not any(d.startswith(key) for d in os.listdir(dst)):
                bad[t.name] = f"no {key}* partition directories in the target"
        for name in self.order:
            res = out.get(name)
            if res is None or name in bad:
                continue
            src_sum, dst_sum, violations = res
            want = self.sources[name.lower()]["rows"]
            if src_sum["n_rows"] != want or dst_sum["n_rows"] != want:
                bad[name] = (f"rows: source {src_sum['n_rows']}, target "
                             f"{dst_sum['n_rows']}, expected {want}")
            elif src_sum["content_checksum"] != dst_sum["content_checksum"]:
                bad[name] = (f"checksum {src_sum['content_checksum']} != "
                             f"{dst_sum['content_checksum']}")
            elif any(v for v in violations.values()):
                bad[name] = f"violations {violations}"
        return bad

    def after_op(self, index: int) -> None:
        dest_root = os.path.join(self.ctx.run_dir, f"migrate-{index}")
        self.bytes_written = _walk_bytes(dest_root)[1]
        shutil.rmtree(dest_root, ignore_errors=True)

    def info(self) -> dict:
        return {"order": self.order, "source_rows": self.items(),
                "source_bytes": self.source_bytes(),
                "storage_ratio": self.bytes_written / self.source_bytes()}


class QueryMix:
    """Registry entries called as ``queries()[name](spark, sf_dir)`` and
    collected, each checked against its DuckDB oracle's digest."""

    name = "query_mix"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.order = list(MIX)
        random.Random(ctx.seed).shuffle(self.order)
        self.expected = ctx.manifest["expected"]

    def imports(self) -> None:
        import __spark_entry__  # noqa: F401

    def op(self, spark, tracer, index: int):
        from __spark_entry__ import queries

        steps: list[Step] = []
        out: dict = {}
        qs = queries()
        for name in self.order:
            tracer.group(spark, name)
            out[name] = _timed(steps, name, lambda name=name: self._entry(
                spark, tracer, qs, name, index))
        return steps, out

    def _entry(self, spark, tracer, qs, name: str, index: int):
        """Build the entry's DataFrame (eager jobs run here), then collect."""
        with tracer.span("registry.build", entry=name) as build:
            df = qs[name](spark, self.ctx.data_dir)
        if tracer.enabled:
            in_build = tracer.spark_counts(spark, name)["jobs"]
        with tracer.span("registry.collect", entry=name) as collect:
            rows = [tuple(r) for r in df.collect()]
        if tracer.enabled:
            self._count(spark, tracer, name, df, index, in_build,
                        build["end"] - build["start"],
                        collect["end"] - collect["start"])
        return [c.lower() for c in df.columns], rows

    def _count(self, spark, tracer, name, df, index, in_build, build,
               collect) -> None:
        module = MIX[name]
        counts = tracer.spark_counts(spark, name)
        phases = tracer.catalyst_phases(df)
        persisted = tracer.persisted_rdds(spark)
        tracer.add(f"operators.{module}.build_s", build)
        tracer.add(f"operators.{module}.collect_s", collect)
        tracer.add("spark.jobs_in_build", in_build)
        for k, v in counts.items():
            tracer.add(f"spark.{k}", v)
        for k, v in phases.items():
            tracer.add(f"catalyst.{k}_s", v)
        tracer.set("cache.persisted_rdds", persisted)
        if index == 0:
            tracer.items[name] = {**counts, "jobs_in_build": in_build,
                                  "persisted_rdds": persisted,
                                  "build_s": build, "collect_s": collect}

    def check(self, steps: list[Step], out: dict) -> dict[str, str]:
        from expected import load_parity_tool

        value_hash = load_parity_tool(self.ctx.root).value_hash
        bad: dict[str, str] = {}
        for name in self.order:
            res = out.get(name)
            if res is None:
                continue
            cols, rows = res
            want = self.expected[name]
            if len(rows) != want["rows"]:
                bad[name] = f"{len(rows)} rows, oracle {want['rows']}"
            elif sorted(cols) != want["columns"]:
                bad[name] = f"columns {sorted(cols)} != {want['columns']}"
            elif value_hash(cols, rows) != want["hash"]:
                bad[name] = "value hash differs from the oracle"
        return bad

    def info(self) -> dict:
        return {"order": self.order}


class EstateMigrate:
    """The schema plane over the generated estate, then the star tables
    migrated and reconciled: what a migration project runs, in one
    operation. Step names and outputs of the two parts do not overlap."""

    name = "estate_migrate"

    def __init__(self, ctx: Context) -> None:
        self.parts = (DdlEstate(ctx), MigrateStar(ctx))
        self.part_s: dict[str, list[float]] = {p.name: [] for p in self.parts}

    def imports(self) -> None:
        for part in self.parts:
            part.imports()

    def instrument(self, tracer) -> None:
        for part in self.parts:
            part.instrument(tracer)

    def op(self, spark, tracer, index: int):
        steps: list[Step] = []
        out: dict = {}
        for part in self.parts:
            t = time.perf_counter()
            part_steps, part_out = part.op(spark, tracer, index)
            self.part_s[part.name].append(time.perf_counter() - t)
            steps.extend(part_steps)
            out[part.name] = part_out
        return steps, out

    def check(self, steps: list[Step], out: dict) -> dict[str, str]:
        bad: dict[str, str] = {}
        for part in self.parts:
            bad.update(part.check(steps, out[part.name]))
        return bad

    def after_op(self, index: int) -> None:
        self.parts[1].after_op(index)

    def info(self) -> dict:
        ddl, mig = self.parts
        return {"part_s": self.part_s,
                "estate_tables_per_s": ddl.items()
                / statistics.fmean(self.part_s[ddl.name]),
                "migrate_rows_per_s": mig.items()
                / statistics.fmean(self.part_s[mig.name]),
                **{k: v for part in self.parts for k, v in part.info().items()}}


WORKLOADS = {w.name: w for w in (EstateMigrate, QueryMix)}
