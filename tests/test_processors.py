"""Processor-layer tests: attributes actions, filter, transform groups,
redaction, recombine, transformers — countconnector-style golden checks."""

import pytest
from pyspark.sql import Row, functions as F

from opentelemetry_collector_contrib_spark.operators.attributes import Action, apply_attributes
from opentelemetry_collector_contrib_spark.operators.filter_processor import (
    filter_logs_legacy,
    filter_logs_ottl,
)
from opentelemetry_collector_contrib_spark.operators.recombine import recombine
from opentelemetry_collector_contrib_spark.operators.redaction import (
    allow_keys,
    deny_keys,
    mask_map_values,
)
from opentelemetry_collector_contrib_spark.operators import transform as tr
from opentelemetry_collector_contrib_spark.operators.transform_processor import (
    StatementGroup,
    TransformProcessor,
)


@pytest.fixture(scope="module")
def logs(spark):
    rows = [
        Row(body="GET /health 200", severity_number=9, attributes={"svc": "api", "secret": "tok-12345"}),
        Row(body="POST /buy 500", severity_number=17, attributes={"svc": "shop"}),
        Row(body="GET /list 200", severity_number=5, attributes={"svc": "api", "user": "bob"}),
    ]
    return spark.createDataFrame(
        rows, "body string, severity_number int, attributes map<string,string>"
    )


def attrs(df):
    return [r.attributes for r in df.orderBy("body").collect()]


class TestAttributes:
    def test_insert_update_upsert(self, logs):
        out = apply_attributes(
            logs,
            [
                Action("insert", "env", value="prod"),
                Action("insert", "svc", value="OVERWRITTEN"),  # exists → no-op
                Action("update", "user", value="alice"),  # only row with user
                Action("upsert", "ver", value="2"),
            ],
        )
        a = attrs(out)
        assert all(x["env"] == "prod" and x["ver"] == "2" for x in a)
        assert all(x["svc"] in ("api", "shop") for x in a)
        assert a[0].get("user") is None  # update didn't insert
        assert a[1]["user"] == "alice"

    def test_delete_hash_convert(self, logs):
        out = apply_attributes(
            logs,
            [
                Action("hash", "secret"),
                Action("delete", "user"),
                Action("upsert", "n", value="42"),
                Action("convert", "n", converted_type="double"),
            ],
        )
        a = attrs(out)
        import hashlib

        assert a[0]["secret"] == hashlib.sha256(b"tok-12345").hexdigest()
        assert all("user" not in x for x in a)
        assert a[0]["n"] == "42.0"

    def test_extract(self, logs):
        out = apply_attributes(
            logs,
            [Action("extract", "svc", pattern=r"(?P<first>^.)(?P<rest>.*)")],
        )
        a = attrs(out)
        assert a[0]["first"] == "a" and a[0]["rest"] == "pi"

    def test_conditional(self, logs):
        out = apply_attributes(
            logs,
            [Action("upsert", "err", value="yes")],
            cond=F.col("severity_number") >= 17,
        )
        a = attrs(out)
        assert "err" not in a[0] and "err" not in a[1] and a[2]["err"] == "yes"


class TestFilter:
    def test_ottl_conditions_or(self, logs):
        out = filter_logs_ottl(
            logs, ['severity_number >= 17', 'attributes["user"] == "bob"']
        )
        assert [r.body for r in out.collect()] == ["GET /health 200"]

    def test_legacy(self, logs):
        assert filter_logs_legacy(logs, include_body_regex="^GET").count() == 2
        assert filter_logs_legacy(logs, exclude_body_regex=" 500$").count() == 2
        assert filter_logs_legacy(logs, min_severity=9).count() == 2


class TestTransformProcessor:
    def test_groups_with_conditions(self, logs):
        tp = TransformProcessor(
            [
                StatementGroup(
                    statements=['set(attributes["sev"], "high")'],
                    conditions=["severity_number >= 17"],
                ),
                StatementGroup(statements=['set(attributes["seen"], "1")']),
            ]
        )
        a = attrs(tp.process(logs))
        assert "sev" not in a[0] and a[2]["sev"] == "high"
        assert all(x["seen"] == "1" for x in a)

    def test_parse_error_at_build(self):
        with pytest.raises((SyntaxError, ValueError)):
            TransformProcessor([StatementGroup(statements=["set((("])])


class TestRedaction:
    def test_key_policies_and_masking(self, logs):
        out = allow_keys(logs, "attributes", ["svc", "secret"])
        assert all(set(x).issubset({"svc", "secret"}) for x in attrs(out))
        out2 = deny_keys(logs, "attributes", ["secret"])
        assert all("secret" not in x for x in attrs(out2))
        out3 = mask_map_values(
            logs, "attributes", r"tok-\d+", "****", count_attr="masked_count"
        )
        rows = out3.orderBy("body").collect()
        assert rows[0].attributes["secret"] == "****"
        assert rows[0].masked_count == 1 and rows[1].masked_count == 0


class TestTransformers:
    def test_basic_ops(self, logs):
        df = tr.add(logs, "k", F.lit("v"))
        df = tr.copy(df, "k", "k2")
        df = tr.move(df, "k2", "k3")
        df = tr.retain(df, "body", "k", "k3")
        assert set(df.columns) == {"body", "k", "k3"}
        assert tr.filter_drop(logs, F.col("severity_number") == 9).count() == 2

    def test_assign_keys_unquote_flatten(self, spark):
        df = spark.createDataFrame(
            [Row(vals=["a", "b"], q='"quoted"', s=Row(x=1, y=2))],
            "vals array<string>, q string, s struct<x:int,y:int>",
        )
        out = tr.assign_keys(df, "vals", ["k1", "k2"], "m").collect()[0]
        assert out.m == {"k1": "a", "k2": "b"}
        assert tr.unquote(df, "q").collect()[0].q == "quoted"
        flat = tr.flatten(df, "s")
        assert {"x", "y"}.issubset(set(flat.columns))


class TestRecombine:
    @pytest.fixture(scope="class")
    def lines(self, spark):
        rows = []
        for src in ("a", "b"):
            for i in range(10):
                text = ("START msg %d" % i) if i % 4 == 0 else ("cont %d" % i)
                rows.append(Row(source=src, offset=i, line=text))
        return spark.createDataFrame(rows, "source string, offset long, line string")

    def test_window_and_pandas_agree(self, lines):
        """Each source's ten lines fall into the segments 0-3, 4-7 and 8-9,
        each opened by its START line."""
        a = recombine(lines, "source", "offset", "line", r"^START")
        got = sorted((r.source, r.n_lines, r.combined) for r in a.collect())
        want = sorted(
            (src, n, combined)
            for src in ("a", "b")
            for n, combined in (
                (4, "START msg 0\ncont 1\ncont 2\ncont 3"),
                (4, "START msg 4\ncont 5\ncont 6\ncont 7"),
                (2, "START msg 8\ncont 9"),
            )
        )
        assert got == want

    def test_max_batch_size(self, lines):
        out = recombine(lines, "source", "offset", "line", r"^START", max_batch_size=2)
        assert out.agg(F.max("n_lines")).collect()[0][0] <= 2
        assert out.agg(F.sum("n_lines")).collect()[0][0] == 20
    def test_is_last_entry_mode(self, lines, spark):
        """A matching row CLOSES its segment (transformer.go is_last_entry):
        rows after an END belong to the next segment."""
        rows = [Row(source="a", offset=i, line=("END %d" % i) if i in (2, 5) else ("m %d" % i))
                for i in range(8)]
        df = spark.createDataFrame(rows, "source string, offset long, line string")
        out = {r.segment_id: (r.n_lines, r.combined)
               for r in recombine(df, "source", "offset", "line",
                                  is_last_regex=r"^END").collect()}
        assert out["0"] == (3, "m 0\nm 1\nEND 2")
        assert out["1"] == (3, "m 3\nm 4\nEND 5")
        assert out["2"] == (2, "m 6\nm 7")

    def test_max_log_size(self, lines):
        """Byte-cap flush: each sub-batch ≤ cap + the tipping entry."""
        out = recombine(lines, "source", "offset", "line", r"^START",
                        max_log_size=20)
        rows = out.collect()
        assert sum(r.n_lines for r in rows) == 20
        # every batch except possibly the tipping entry respects the cap
        assert all(len(r.combined) <= 20 + len("START msg 0") + 1 for r in rows)
        # and at least one oversized segment actually split
        plain = recombine(lines, "source", "offset", "line", r"^START")
        assert out.count() > plain.count()

    def test_skew_chunk_matches_plain_window(self, spark):
        """Two-level prefix-sum segmentation (the hot-source skew path) is
        value-identical to the single-window form on the 45%-hot tokens
        table."""
        from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df
        from opentelemetry_collector_contrib_spark.sources.render import render_lines

        t = render_lines(tokens_df(spark, 3000, num_partitions=4), out="line")
        t = t.withColumn("o", F.row_number().over(
            __import__("pyspark").sql.Window.partitionBy("source").orderBy("doc_id")))
        for kwargs in (dict(is_first_regex="ERROR"),
                       dict(is_last_regex="ERROR"),
                       dict(is_first_regex="ERROR", max_batch_size=3),
                       dict(is_first_regex="ERROR", max_log_size=200)):
            plain = recombine(t, "source", "o", "line", **kwargs)
            skew = recombine(t, "source", "o", "line", skew_chunk=100, **kwargs)
            sa = sorted((r.source, r.segment_id, r.n_lines, r.combined)
                        for r in plain.collect())
            sb = sorted((r.source, r.segment_id, r.n_lines, r.combined)
                        for r in skew.collect())
            assert sa == sb, kwargs

    def test_boundary_mode_validation(self, lines):
        with pytest.raises(ValueError):
            recombine(lines, "source", "offset", "line")
        with pytest.raises(ValueError):
            recombine(lines, "source", "offset", "line", r"^A", is_last_regex=r"^B")

