"""Value-level converter edge matrix: JSON decode → lake write → read
fidelity for the payload shapes the reference's converter tests exercise
(`connect/SinkRecordToArrowConverterTest.java:58-219`,
`connect/ImprovedErrorMessageTest.java`): unicode, int64 boundaries,
special doubles, nulls inside arrays, empty containers, exotic JSON key
characters, long strings, and scientific-notation numerics."""

import json

from pyspark.sql import types as T

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.sources.json_decode import (
    decode_json,
    infer_batch_schema,
    split_dlq,
)

from tests.test_sources import _kafka_df


class TestScalarEdges:
    def test_int64_boundaries_roundtrip(self, spark):
        lo, hi = -(2**63), 2**63 - 1
        df = _kafka_df(spark, [{"id": 1, "v": hi}, {"id": 2, "v": lo}])
        rows = {r["id"]: r["v"] for r in decode_json(df).collect()}
        assert rows[1] == hi and rows[2] == lo

    def test_unicode_strings_preserved(self, spark):
        s = "héllo wörld — 測試 🚀  nbsp"
        df = _kafka_df(spark, [{"id": 1, "s": s}])
        assert decode_json(df).first()["s"] == s

    def test_scientific_notation_is_double(self, spark):
        df = _kafka_df(spark, [{"id": 1, "x": 1.5e300}, {"id": 2, "x": 2e-300}])
        schema, _ = infer_batch_schema(df)
        assert isinstance(schema["x"].dataType, T.DoubleType)
        rows = {r["id"]: r["x"] for r in decode_json(df).collect()}
        assert rows[1] == 1.5e300 and rows[2] == 2e-300

    def test_long_string_roundtrip(self, spark):
        s = "x" * 100_000
        df = _kafka_df(spark, [{"id": 1, "s": s}])
        assert decode_json(df).first()["s"] == s

    def test_empty_string_vs_null(self, spark):
        df = _kafka_df(spark, [{"id": 1, "s": ""}, {"id": 2, "s": None}])
        rows = {r["id"]: r["s"] for r in decode_json(df).collect()}
        assert rows[1] == "" and rows[2] is None

    def test_bool_stays_bool_not_int(self, spark):
        df = _kafka_df(spark, [{"id": 1, "b": True}, {"id": 2, "b": False}])
        schema, _ = infer_batch_schema(df)
        assert isinstance(schema["b"].dataType, T.BooleanType)


class TestContainerEdges:
    def test_nulls_inside_arrays_preserved(self, spark):
        df = _kafka_df(spark, [{"id": 1, "a": [1, None, 3]}])
        assert decode_json(df).first()["a"] == [1, None, 3]

    def test_empty_array_keeps_column(self, spark):
        # [] in one record + [int] in another unify to array<long>
        df = _kafka_df(spark, [{"id": 1, "a": []}, {"id": 2, "a": [7]}])
        rows = {r["id"]: r["a"] for r in decode_json(df).collect()}
        assert rows[1] == [] and rows[2] == [7]

    def test_exotic_json_keys(self, spark):
        payload = {"id": 1, "weird key": 1, "dots.and:colons": 2, "em—dash": 3}
        df = _kafka_df(spark, [payload])
        row = decode_json(df).first().asDict()
        assert row["weird key"] == 1
        assert row["dots.and:colons"] == 2
        assert row["em—dash"] == 3

    def test_mixed_numeric_array_promotes(self, spark):
        df = _kafka_df(spark, [{"id": 1, "a": [1, 2.5]}])
        schema, _ = infer_batch_schema(df)
        assert isinstance(schema["a"].dataType.elementType, T.DoubleType)
        assert decode_json(df).first()["a"] == [1.0, 2.5]


class TestLakeRoundtripEdges:
    """Write the decoded edge batch through the lake (complex → JSON
    text per B9) and read it back unchanged."""

    def _roundtrip(self, spark, tmp_path, records, pk="id"):
        df = decode_json(_kafka_df(spark, records))
        good, _ = split_dlq(df)
        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        LakeWriter(cat.table("edges"), pk=[pk], auto_create=True).write(good)
        return cat.table("edges").read()

    def test_unicode_and_boundary_values_survive_lake(self, spark, tmp_path):
        s = "naïve — 測試 🚀"
        back = self._roundtrip(
            spark,
            tmp_path,
            [{"id": 1, "s": s, "v": 2**63 - 1}, {"id": 2, "s": "", "v": -(2**63)}],
        )
        rows = {r["id"]: r for r in back.collect()}
        assert rows[1]["s"] == s and rows[1]["v"] == 2**63 - 1
        assert rows[2]["s"] == "" and rows[2]["v"] == -(2**63)

    def test_array_with_nulls_survives_lake_as_json(self, spark, tmp_path):
        back = self._roundtrip(spark, tmp_path, [{"id": 1, "a": [1, None, 3]}])
        # complex column stored as JSON text (B9): parse it back
        raw = back.first()["a"]
        assert json.loads(raw) == [1, None, 3]

    def test_nested_unicode_keys_survive_lake(self, spark, tmp_path):
        back = self._roundtrip(
            spark, tmp_path, [{"id": 1, "obj": {"kéy": "välue", "n": 5}}]
        )
        parsed = json.loads(back.first()["obj"])
        assert parsed == {"kéy": "välue", "n": 5}

    def test_upsert_preserves_untouched_edge_values(self, spark, tmp_path):
        s = "🚀" * 1000
        cat = LakeCatalog(spark, str(tmp_path / "lake2"))
        w = LakeWriter(cat.table("t"), pk=["id"], auto_create=True)
        base = decode_json(
            _kafka_df(spark, [{"id": 1, "s": s}, {"id": 2, "s": "keep"}])
        )
        w.write(split_dlq(base)[0])
        upd = decode_json(_kafka_df(spark, [{"id": 2, "s": "new"}]))
        w.write(split_dlq(upd)[0])
        rows = {r["id"]: r["s"] for r in cat.table("t").read().collect()}
        assert rows[1] == s, "unmatched row's edge value must survive the rewrite"
        assert rows[2] == "new"


class TestDlqEdges:
    def test_truncated_and_binary_garbage_to_dlq(self, spark):
        df = _kafka_df(
            spark,
            [{"id": 1, "v": "ok"}, '{"id": 2, "v": "trunc', "\x00\x01\x02"],
        )
        good, bad = split_dlq(decode_json(df))
        assert good.count() == 1
        assert bad.count() == 2
        errs = [r["error"] for r in bad.collect()]
        assert all(e for e in errs), "DLQ rows must carry a non-empty error"

    def test_valid_json_scalar_not_object_to_dlq(self, spark):
        # a bare JSON scalar is not a record — reference nulls the row;
        # the decode path must not crash and must route it out of `good`
        df = _kafka_df(spark, [{"id": 1, "v": "ok"}, "42"])
        good, bad = split_dlq(decode_json(df))
        assert good.count() + bad.count() == 2
        assert good.filter("id = 1").count() == 1


class TestJsonPrimitiveMatrix:
    """Value-conversion matrix in the spirit of the reference's
    SinkRecordToArrowConverterTest primitive coverage: numeric widths,
    boundaries, special floats, unicode, and null placement through the
    schemaless JSON decode path."""

    def _decode(self, spark, payloads):
        from ducklake_kafka_connect_spark.sources.json_decode import decode_json

        df = spark.createDataFrame([(p,) for p in payloads], "value string")
        return decode_json(df, value_col="value")

    def test_int_widths_and_boundaries(self, spark):
        out = self._decode(
            spark,
            [
                '{"small": 1, "big": 3000000000, "i64max": 9223372036854775807,'
                ' "i64min": -9223372036854775808}'
            ],
        )
        types = dict(out.dtypes)
        assert types["small"] == "int"
        assert types["big"] == "bigint"
        [r] = out.collect()
        assert r["i64max"] == 9223372036854775807
        assert r["i64min"] == -9223372036854775808

    def test_int32_boundary_exact(self, spark):
        out = self._decode(
            spark, ['{"at_max": 2147483647, "over": 2147483648}']
        )
        types = dict(out.dtypes)
        assert types["at_max"] == "int"
        assert types["over"] == "bigint"

    def test_floats_and_scientific(self, spark):
        out = self._decode(
            spark, ['{"f": 1.5, "sci": 1.5e10, "neg": -2.25e-3}']
        )
        types = dict(out.dtypes)
        assert types["f"] == "double" and types["sci"] == "double"
        [r] = out.collect()
        assert r["sci"] == 1.5e10 and r["neg"] == -2.25e-3

    def test_mixed_int_float_promotes_double(self, spark):
        out = self._decode(spark, ['{"v": 1}', '{"v": 2.5}'])
        assert dict(out.dtypes)["v"] == "double"
        assert sorted(r["v"] for r in out.collect()) == [1.0, 2.5]

    def test_int_then_long_promotes(self, spark):
        out = self._decode(spark, ['{"v": 5}', '{"v": 3000000000}'])
        assert dict(out.dtypes)["v"] == "bigint"

    def test_booleans(self, spark):
        out = self._decode(spark, ['{"t": true, "f": false}'])
        types = dict(out.dtypes)
        assert types["t"] == "boolean" and types["f"] == "boolean"
        [r] = out.collect()
        assert r["t"] is True and r["f"] is False

    def test_unicode_strings_roundtrip(self, spark):
        out = self._decode(
            spark,
            ['{"s": "caf\\u00e9 \\u4e2d\\u6587 \\ud83d\\ude00", "plain": "ascii"}'],
        )
        [r] = out.collect()
        assert r["s"] == "café 中文 😀"

    def test_null_fields_and_missing_fields(self, spark):
        out = self._decode(
            spark, ['{"a": 1, "b": null}', '{"a": null}', '{"b": 2}']
        )
        rows = out.select("a", "b").collect()
        a_vals = sorted((r["a"] for r in rows), key=lambda x: (x is None, x))
        assert a_vals == [1, None, None]

    def test_empty_object_row(self, spark):
        out = self._decode(spark, ['{"a": 1}', "{}"])
        assert out.count() == 2

    def test_deeply_nested_struct(self, spark):
        out = self._decode(
            spark, ['{"o": {"p": {"q": {"r": 7}}}, "tag": "deep"}']
        )
        [r] = out.collect()
        assert r["o"]["p"]["q"]["r"] == 7

    def test_array_of_structs(self, spark):
        out = self._decode(
            spark, ['{"items": [{"k": 1}, {"k": 2}], "n": 2}']
        )
        [r] = out.collect()
        assert [x["k"] for x in r["items"]] == [1, 2]

    def test_heterogeneous_numeric_array_promotes(self, spark):
        out = self._decode(spark, ['{"xs": [1, 2.5, 3]}'])
        assert dict(out.dtypes)["xs"] == "array<double>"

    def test_negative_zero_is_double(self, spark):
        out = self._decode(spark, ['{"z": -0.0}'])
        assert dict(out.dtypes)["z"] == "double"

    def test_whitespace_payload_is_corrupt(self, spark):
        from ducklake_kafka_connect_spark.sources.json_decode import split_dlq

        good, bad = split_dlq(self._decode(spark, ['{"a": 1}', "   ", "not json"]))
        assert good.count() == 1
        assert bad.count() == 2


def test_untrusted_field_names_decode_literally(spark):
    """JSON keys are untrusted and decode_json/split_dlq put them (and
    the conflict note quoting them) into SQL text: dots, backquotes,
    quotes, backslashes, spaces and non-ASCII decode as themselves, a
    sniffed timestamp under such a name parses, and the DLQ rows keep
    the raw payloads and the note verbatim."""
    import datetime

    from ducklake_kafka_connect_spark.sources.json_decode import (
        conflict_note,
        decode_json,
        split_dlq,
        sql_string,
    )

    names = ["a.b", "back`tick", "it's", "back\\slash", "with space", "naïve 日本"]
    good = {n: i for i, n in enumerate(names)}
    good["it's when"] = "2024-01-02T03:04:05+0100"
    conflict = json.dumps({"it's": {"x": "\\'"}})
    truncated = '{"a.b": 1, "it\'s'
    payloads = [json.dumps(good), conflict, truncated, "  "]
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    conflicts: dict = {}
    decoded = decode_json(df, value_col="value", conflicts_out=conflicts)
    note = conflict_note(conflicts)
    assert "it's" in note
    ok, bad = split_dlq(decoded, error_note=note)
    assert ok.columns == names + ["it's when"]
    [row] = ok.collect()
    assert list(row) == list(range(len(names))) + [datetime.datetime(2024, 1, 2, 2, 4, 5)]
    got_bad = sorted((r["raw_value"], r["error"]) for r in bad.collect())
    assert got_bad == sorted((p, note) for p in (conflict, truncated, "  "))
    for s in ("it's", "a\\b", "\\u0041", "x''y", "", "'", "line\nbreak"):
        assert spark.sql(f"SELECT {sql_string(s)} AS s").collect()[0]["s"] == s
