"""End-to-end Spark parse parity: the distributed pipeline must reproduce the
pure-Python canonical implementation byte-for-byte on the deterministic pages
fixture — per-line status/log_type/line/hash64/raw_excerpt, per-type
projections, anonymized columns, and per-url reconstructed text."""

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark import fixtures
from logparse_rs_spark.anonymizer import FieldPlan
from logparse_rs_spark.operators.anonymize import anonymize_expr, audit_table
from logparse_rs_spark.operators.parse import (
    include_all_map,
    parse_pages,
    project_type,
    rejected,
)
from logparse_rs_spark.refimpl import integrity_entries

N_PAGES = 80


@pytest.fixture(scope="module")
def pages_cols():
    return fixtures.generate_pages(N_PAGES)


@pytest.fixture(scope="module")
def expected(pages_cols, full_schema):
    return fixtures.expected_records(pages_cols, full_schema)


@pytest.fixture(scope="module")
def expected_anon(pages_cols, full_schema, sample_anon):
    return fixtures.expected_records(pages_cols, full_schema, sample_anon)


@pytest.fixture(scope="module")
def pages_df(spark, pages_cols):
    import pandas as pd

    pdf = pd.DataFrame({k: pages_cols[k] for k in ("url", "text", "lang")})
    return spark.createDataFrame(pdf).repartition(7)  # odd partitioning on purpose


@pytest.fixture(scope="module")
def parsed(pages_df, full_schema):
    df = parse_pages(pages_df, full_schema)
    df.cache().count()
    return df


def unsigned(h):
    return None if h is None else h & (2**64 - 1)


class TestLineParity:
    def test_every_line_matches_refimpl(self, parsed, expected):
        rows = parsed.select(
            "url", "line_ordinal", "status", "log_type", "line",
            "hash64", "raw_excerpt",
        ).collect()
        got = {(r["url"], r["line_ordinal"]): r for r in rows}
        assert len(got) == len(expected)
        for e in expected:
            key = (e["url"], e["line_ordinal"])
            r = got[key]
            assert r["status"] == e["status"], key
            assert r["log_type"] == e["log_type"], key
            assert r["line"] == e["line"], key
            assert unsigned(r["hash64"]) == e["hash64"], key
            assert r["raw_excerpt"] == e["raw_excerpt"], key

    def test_byte_identical_text_per_url(self, parsed, expected):
        # north-rule invariant: reconstructed extracted text per url equals
        # the reference implementation's, byte for byte
        got = (
            parsed.groupBy("url")
            .agg(F.concat_ws("\n", F.array_sort(F.collect_list(
                F.struct("line_ordinal", "line")))["line"]).alias("text2"))
            .collect()
        )
        by_url = {}
        for e in expected:
            by_url.setdefault(e["url"], []).append((e["line_ordinal"], e["line"]))
        for r in got:
            want = "\n".join(l for _, l in sorted(by_url[r["url"]]))
            assert r["text2"] == want, r["url"]

    def test_rejected_side_output(self, parsed, expected):
        want = sum(1 for e in expected if e["status"] != "ok")
        assert rejected(parsed).count() == want

    def test_routed_counts_by_type(self, parsed, expected):
        got = {
            r["log_type"]: r["count"]
            for r in parsed.filter("status = 'ok'")
            .groupBy("log_type").count().collect()
        }
        want = {}
        for e in expected:
            if e["status"] == "ok":
                want[e["log_type"]] = want.get(e["log_type"], 0) + 1
        assert got == want


class TestProjection:
    DIMS = ["source_address", "destination_address", "rule_name",
            "source_user", "application", "action", "device_name"]

    def test_traffic_projection_matches(self, parsed, full_schema, expected):
        rows = project_type(parsed, full_schema, "TRAFFIC",
                            columns=self.DIMS).collect()
        got = {(r["url"], r["line_ordinal"]): r for r in rows}
        want = [e for e in expected
                if e["status"] == "ok" and e["log_type"] == "TRAFFIC"]
        assert len(got) == len(want)
        for e in want:
            r = got[(e["url"], e["line_ordinal"])]
            for d in self.DIMS:
                assert r[d] == e["parsed"][d], (e["url"], e["line_ordinal"], d)

    def test_traffic_anonymized_projection(self, parsed, full_schema,
                                           sample_anon, expected_anon):
        rows = project_type(parsed, full_schema, "TRAFFIC",
                            columns=self.DIMS, anon=sample_anon).collect()
        got = {(r["url"], r["line_ordinal"]): r for r in rows}
        want = [e for e in expected_anon
                if e["status"] == "ok" and e["log_type"] == "TRAFFIC"]
        assert len(got) == len(want)
        for e in want:
            r = got[(e["url"], e["line_ordinal"])]
            for d in self.DIMS:
                assert r[d] == e["parsed"][d], (e["url"], e["line_ordinal"], d)

    def test_full_width_projection_nulls(self, parsed, full_schema):
        # 60-field lines against 117 positions: trailing columns all null
        df = project_type(parsed, full_schema, "TRAFFIC")
        row = df.limit(1).collect()[0]
        assert row["destination_dynamic_address_group"] is None
        assert row["cluster_name"] is None

    def test_include_all_map(self, parsed):
        from logparse_rs_spark.operators.parse import fields_col
        df = fields_col(parsed.filter("status = 'ok'"))
        df = df.withColumn("m", include_all_map(df))
        r = df.select("fields", "m").limit(5).collect()
        for row in r:
            assert row["m"]["field_3"] == row["fields"][3]
            assert len(row["m"]) == len(row["fields"])


class TestAudit:
    def test_audit_table_matches_refimpl(self, parsed, full_schema,
                                         sample_anon, expected):
        dims = TestProjection.DIMS
        pre = project_type(parsed, full_schema, "TRAFFIC", columns=dims)
        audit = audit_table(pre, sample_anon, dims)
        got = {(r["field"], r["original"]): r["replacement"]
               for r in audit.collect()}
        want = {}
        for e in expected:
            if e["status"] == "ok" and e["log_type"] == "TRAFFIC":
                sub = {d: e["parsed"][d] for d in dims}
                for f, o, r2 in integrity_entries(sub, sample_anon):
                    want[(f, o)] = r2
        assert got == want


class TestAnonymizeExpr:
    """Map mode runs one map-literal lookup for every dictionary size; the
    Spark expression must equal FieldPlan.apply_one on hits, misses and
    nulls under each fallback."""

    SALT = "default-salt"

    @pytest.mark.parametrize("fallback", ["tokenize", "fixed", "reject"])
    @pytest.mark.parametrize("size", [0, 1, 40])
    def test_map_mode_matches_apply_one(self, spark, size, fallback):
        plan = FieldPlan(field_name="f", mode="map", fixed="GONE",
                         token_prefix="M_", field_salt="fs",
                         map={f"k{i}": f"v{i}" for i in range(size)},
                         fallback=fallback)
        values = [f"k{i}" for i in range(size)][:3] + ["miss", "", None]
        df = spark.createDataFrame(list(enumerate(values)),
                                   "i int, value string")
        got = [r[0] for r in df.orderBy("i").select(
            anonymize_expr(F.col("value"), plan, self.SALT)).collect()]
        assert got == [plan.apply_one(v, self.SALT) for v in values]
