"""Compatibility-facade tests: the api module must behave like the
reference's Python surface (rust_accel.py) — same function names, same
shapes, same integrity-table growth, same NDJSON skip semantics."""

import json
import os
import re

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
SCHEMA = os.path.join(ROOT, "schemas", "schema.json")
ANON = os.path.join(ROOT, "configs", "anonymizer.sample.json")

EXEMPLAR = (
    "1,2012/10/30 09:46:12,01606001116,TRAFFIC,start,1,2012/04/10 04:39:58,"
    "192.168.0.2,204.232.231.46,0.0.0.0,0.0.0.0,rule1,crusher,,web-browsing,"
    "vsys1,trust,untrust,ethernet1/2,ethernet1/1,forwardAll,2012/04/10 04:39:59,"
    "11449,1,59324,80,0,0,0x200000,tcp,allow,78,78,0,1,2012/04/10 04:39:59,0,"
    "any,0,0,0x0,192.168.0.0-192.168.255.255,United States,0,1,0"
)

# a CASE WHEN branch whose condition compares log_type with a literal
TYPE_BRANCH = re.compile(r"WHEN \(log_type#\d+ = ")


@pytest.fixture()
def api():
    from logparse_rs_spark import api
    api.load_schema(SCHEMA)
    api.load_anonymizer(ANON)
    return api


class TestTokenizerSurface:
    def test_get_field_fields_type_subtype(self, api):
        assert api.get_fields("a,b,c") == ["a", "b", "c"]
        assert api.get_field(EXEMPLAR, 3) == "TRAFFIC"
        assert api.get_type_subtype(EXEMPLAR) == ("TRAFFIC", "start")
        assert api.hash64_fnv1a("hello") == 0xA430D84680AABD0B


class TestParseSurface:
    def test_parse_kv_and_enriched(self, api):
        m = api.parse_kv(EXEMPLAR)
        assert m["source_address"] == "192.168.0.2"
        d = api.parse_kv_enriched(EXEMPLAR)
        assert d["hash64"] == 13818364382168973916
        assert d["raw_excerpt"] == EXEMPLAR[:256]

    def test_parse_kv_unknown_raises(self, api):
        with pytest.raises(ValueError):
            api.parse_kv("a,b,c,NOPE")

    def test_no_schema_raises(self):
        from logparse_rs_spark import api as fresh
        old = fresh._SCHEMA
        fresh._SCHEMA = None
        try:
            with pytest.raises(ValueError, match="No schema loaded"):
                fresh.parse_kv("a,b,c,TRAFFIC")
        finally:
            fresh._SCHEMA = old

    def test_parse_many_and_parallel_agree(self, api):
        lines = [EXEMPLAR, "", EXEMPLAR + "\n", "x,y,z,SYSTEM,s"]
        seq = list(api.parse_many(lines))
        # parallel path raises on unknown/malformed like sequential? the
        # reference's parallel path parses known types only; keep to valid
        par = list(api.parse_many_parallel([EXEMPLAR, EXEMPLAR + "\n"],
                                           batch_size=1))
        assert seq[0]["parsed"] == par[0]["parsed"]
        assert seq[0]["hash64"] == par[0]["hash64"]
        assert len(seq) == 3

    def test_anonymized_and_integrity_growth(self, api):
        before = api.get_anonymizer_status()
        d = api.parse_kv_enriched_anon(EXEMPLAR)
        assert d["_anonymized"] is True
        assert d["parsed"]["source_address"] == "SRC_707b7cbaa5e196f2"
        after = api.get_anonymizer_status()
        assert after["enabled"] and after["pairs"] > before["pairs"]
        table = api.export_integrity_table()
        assert table["source_address"]["192.168.0.2"] == "SRC_707b7cbaa5e196f2"

    def test_export_integrity_table_file(self, api, tmp_path):
        api.parse_kv_enriched_anon(EXEMPLAR)
        p = tmp_path / "it.json"
        api.export_integrity_table(str(p))
        loaded = json.loads(p.read_text())
        assert loaded["destination_address"]["204.232.231.46"] == \
            "DST_3f845600c30f93f0"

    def test_schema_status(self, api):
        st = api.get_schema_status()
        assert st["loaded"] and st["source"] == "file"
        assert st["path"].endswith("schema.json")
        assert st["mtime_epoch_ms"] > 0


class TestReferenceParity:
    """The facade's schema-path and file entry points against refimpl."""

    def test_enriched_with_schema_matches_refimpl(self, api):
        from logparse_rs_spark import refimpl
        from logparse_rs_spark.schema import load_schema
        got = api.parse_kv_enriched_with_schema(EXEMPLAR, SCHEMA)
        assert got == refimpl.parse_kv_enriched(EXEMPLAR, load_schema(SCHEMA))
        assert got["parsed"]["source_address"] == "192.168.0.2"

    def test_enriched_with_schema_anon_matches_refimpl(self, api):
        from logparse_rs_spark import refimpl
        from logparse_rs_spark.anonymizer import load_anonymizer
        from logparse_rs_spark.schema import load_schema
        got = api.parse_kv_enriched_with_schema_anon(EXEMPLAR, SCHEMA)
        assert got == refimpl.parse_kv_enriched_anon(
            EXEMPLAR, load_schema(SCHEMA), load_anonymizer(ANON))
        assert got["parsed"]["source_address"] == "SRC_707b7cbaa5e196f2"
        assert got["_anonymized"] is True

    @pytest.mark.parametrize("anonymized", [False, True])
    def test_parse_file_matches_parse_many(self, api, tmp_path, anonymized):
        from logparse_rs_spark import refimpl
        from logparse_rs_spark.anonymizer import load_anonymizer
        from logparse_rs_spark.schema import load_schema
        # a blank line, trailing blanks that must survive, no final newline
        text = "\n".join([EXEMPLAR, "", EXEMPLAR + " \t", "",
                          "x,y,z,SYSTEM,s,t"])
        src = tmp_path / "in.log"
        src.write_text(text)
        got = list(api.parse_file(str(src), anonymized=anonymized))
        want = list(refimpl.parse_many(
            text.split("\n"), load_schema(SCHEMA),
            load_anonymizer(ANON) if anonymized else None))
        assert got == want
        assert len(got) == 3
        assert got[1]["hash64"] == api.hash64_fnv1a(EXEMPLAR + " \t")


class TestNdjson:
    def test_python_path_skip_semantics(self, api, tmp_path):
        src = tmp_path / "in.log"
        src.write_text("\n".join([
            EXEMPLAR, "", "bad", "a,b,c,NOPETYPE,x", EXEMPLAR,
        ]))
        out = tmp_path / "out.ndjson"
        n = api.parse_file_to_ndjson(str(src), str(out), use_spark=False)
        assert n == 2
        recs = [json.loads(l) for l in out.read_text().splitlines()]
        assert len(recs) == 2
        assert recs[0]["parsed"]["source_address"] == "192.168.0.2"
        assert recs[0]["hash64"] == 13818364382168973916

    def test_spark_path_matches_python(self, api, tmp_path, spark):
        src = tmp_path / "in.log"
        # includes a syslog-prefixed line and a CRLF-terminated line: the
        # spark and python paths must parse the RAW line identically
        # (lib.rs:394-463 — the reference NDJSON path never strips prefixes)
        lines = [EXEMPLAR, "", "bad,line", "a,b,c,NOPE,x",
                 "x,y,z,SYSTEM,s,t", EXEMPLAR,
                 "Jan  1 00:00:00 host app: " + EXEMPLAR,
                 "x,y,z,SYSTEM,s,crlf\r",
                 "  " + EXEMPLAR]
        src.write_text("\n".join(lines))
        out_py = tmp_path / "py.ndjson"
        n_py = api.parse_file_to_ndjson(str(src), str(out_py), use_spark=False)
        out_sp = tmp_path / "sp_ndjson"
        n_sp = api.parse_file_to_ndjson(str(src), str(out_sp), use_spark=True)
        assert n_py == n_sp == 6
        py_recs = sorted((json.loads(l) for l in
                          out_py.read_text().splitlines()),
                         key=lambda r: r["hash64"])
        sp_lines = []
        for f in os.listdir(out_sp):
            if f.startswith("part-"):
                sp_lines += open(out_sp / f).read().splitlines()
        sp_recs = sorted((json.loads(l) for l in sp_lines),
                         key=lambda r: r["hash64"])
        assert len(py_recs) == len(sp_recs)
        for a, b in zip(py_recs, sp_recs):
            assert a["hash64"] == b["hash64"]
            assert a["raw_excerpt"] == b["raw_excerpt"]
            assert list(a["parsed"].items()) == list(b["parsed"].items())

    def test_spark_payload_has_no_type_chain(self, api, tmp_path, spark):
        # one literal-map lookup serves every type: the plan holds no
        # CASE WHEN branch per log type
        src = tmp_path / "in.log"
        src.write_text(EXEMPLAR + "\n")
        frame = api._ndjson_frame(str(src), api._ensure_schema())
        plan = frame._jdf.queryExecution().analyzed().toString()
        assert "to_json" in plan
        assert not TYPE_BRANCH.search(plan)


class TestEnvPreload:
    def test_env_preload(self, tmp_path):
        import importlib
        import logparse_rs_spark.api as api_mod
        os.environ["LOGPARSE_PRELOAD_SCHEMA"] = SCHEMA
        os.environ["LOGPARSE_ANON_CONFIG"] = ANON
        try:
            importlib.reload(api_mod)
            assert api_mod.get_schema_status()["loaded"]
            assert api_mod.get_anonymizer_status()["enabled"]
        finally:
            del os.environ["LOGPARSE_PRELOAD_SCHEMA"]
            del os.environ["LOGPARSE_ANON_CONFIG"]
            importlib.reload(api_mod)


class TestLoadEmbeddedSchema:
    """Facade parity with rust_accel.load_embedded_schema (reference
    rust_accel.py:72-78): env-designated schema loads, bare call raises."""

    def test_loads_from_env(self):
        import importlib
        import logparse_rs_spark.api as api_mod
        os.environ["LOGPARSE_PRELOAD_SCHEMA"] = SCHEMA
        try:
            importlib.reload(api_mod)
            assert api_mod.load_embedded_schema() is True
            assert api_mod.get_schema_status()["loaded"]
        finally:
            del os.environ["LOGPARSE_PRELOAD_SCHEMA"]
            importlib.reload(api_mod)

    def test_raises_without_env(self, monkeypatch):
        import logparse_rs_spark.api as api_mod
        monkeypatch.delenv("LOGPARSE_PRELOAD_SCHEMA", raising=False)
        monkeypatch.delenv("SCHEMA_JSON_PATH", raising=False)
        with pytest.raises(RuntimeError, match="Embedded schema"):
            api_mod.load_embedded_schema()
