"""Ingest-layer tests: TSV normalize→infer→load, JSONL/record ingestion,
MAF concat with caller flags, GTF attribute expansion, VCF FORMAT split."""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import types as T

from nextgenetl_spark.sources import read_gtf, read_jsonl, read_maf_concat, read_tsv, read_vcf
from nextgenetl_spark.sources.jsonl import records_to_df


def test_read_tsv_normalize_and_infer(spark, tmp_path):
    p = tmp_path / "data.tsv"
    p.write_text(
        "case id\tage\tscore\tflag\tnote\n"
        "001\t42.0\t1.5\tYes\thello\n"
        "002\t--\t2.0\tno\tNot Reported\n"
        "003\t7\tNaN\ttrue\tworld\n"
    )
    df = read_tsv(spark, str(p))
    assert df.columns == ["case_id", "age", "score", "flag", "note"]
    types = dict(df.dtypes)
    assert types["case_id"] == "string"  # leading zeros + _id rule
    assert types["age"] == "bigint"      # 42.0 → int, '--' → null
    assert types["score"] == "double"
    assert types["flag"] == "boolean"
    rows = {r["case_id"]: r for r in df.collect()}
    assert rows["001"]["age"] == 42 and rows["001"]["flag"] is True
    assert rows["002"]["age"] is None and rows["002"]["note"] is None
    assert rows["002"]["flag"] is False
    assert df.count() == 3  # row-count invariance after normalization


def test_read_tsv_duplicate_headers(spark, tmp_path):
    p = tmp_path / "dup.tsv"
    p.write_text("a\ta\tb\n1\t2\tx\n")
    df = read_tsv(spark, str(p))
    assert df.columns == ["a", "a_1", "b"]


def test_read_jsonl_inferred(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    recs = [
        {"case_id": "c1", "n": "5", "when": "2020-01-02"},
        {"case_id": "c2", "n": "x"},  # widens n to string
    ]
    p.write_text("\n".join(json.dumps(r) for r in recs))
    df = read_jsonl(spark, str(p))
    types = dict(df.dtypes)
    assert types == {"case_id": "string", "n": "string", "when": "date"}
    assert df.count() == 2


def test_records_to_df_conforms_to_lattice(spark):
    recs = [
        {"case_id": "c1", "v": 5, "tags": ["a", "b"], "child": {"x": "1.0"}},
        {"case_id": "c2", "v": "oops", "tags": [], "child": {"x": "2"}},
    ]
    df = records_to_df(spark, recs)
    types = dict(df.dtypes)
    assert types["v"] == "string"  # INT64+STRING → STRING, 5 conformed to '5'
    got = {r["case_id"]: r for r in df.collect()}
    assert got["c1"]["v"] == "5"
    assert got["c1"]["child"]["x"] == 1


def test_read_maf_concat(spark, tmp_path):
    header = "Hugo_Symbol\tChromosome\tStart_Position\tcallers\n"
    (tmp_path / "f_aaa.maf").write_text("#version 2.4\n" + header + "TP53\tchr17\t7577\tmuse;mutect2*\n")
    (tmp_path / "f_bbb.maf").write_text("#version 2.4\n" + header + "KRAS\tchr12\t2534\tpindel\n")
    df = read_maf_concat(spark, str(tmp_path / "*.maf"))
    rows = {r["Hugo_Symbol"]: r for r in df.collect()}
    assert rows["TP53"]["file_gdc_id"] == "f_aaa"
    assert rows["TP53"]["muse"] == "Yes" and rows["TP53"]["mutect2"] == "Yes*"
    assert rows["TP53"]["pindel"] == "No" and rows["KRAS"]["pindel"] == "Yes"


def test_read_gtf(spark, tmp_path):
    p = tmp_path / "anno.gtf"
    p.write_text(
        "#!genome-build GRCh38\n"
        'chr1\tHAVANA\tgene\t11869\t14409\t.\t+\t.\tgene_id "ENSG0001.5"; gene_name "DDX11L1"; gene_type "pseudo";\n'
        'chr1\tHAVANA\texon\t11869\t12227\t0.5\t+\t0\tgene_id "ENSG0001.5"; exon_number "1";\n'
    )
    df = read_gtf(spark, str(p))
    rows = df.orderBy("start", "feature").collect()
    gene = [r for r in rows if r["feature"] == "gene"][0]
    exon = [r for r in rows if r["feature"] == "exon"][0]
    assert gene["gene_name"] == "DDX11L1" and gene["start"] == 11869 and gene["score"] is None
    assert exon["exon_number"] == "1" and exon["gene_name"] is None
    assert exon["frame"] == 0 and exon["score"] == 0.5


def test_read_vcf(spark, tmp_path):
    p = tmp_path / "calls.vcf"
    p.write_text(
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
        '##INFO=<ID=SOMATIC,Number=0,Type=Flag,Description="Somatic">\n'
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n'
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Depths">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tTUMOR\tNORMAL\n"
        "chr17\t7577\trs1\tC\tT\t60.0\tPASS\tDP=100;SOMATIC\tGT:AD\t0/1:55,45\t0/0:70,0\n"
        "chr12\t2534\t.\tG\tA\t.\tPASS\tDP=80\tAD:GT\t30,10:1/1\t60,0:0/0\n"
    )
    df = read_vcf(spark, str(p))
    assert df.count() == 4  # 2 variants × 2 samples
    rows = {(r["CHROM"], r["sample_name"]): r for r in df.collect()}
    t = rows[("chr17", "TUMOR")]
    assert t["info_DP"] == "100" and t["GT"] == "0/1" and t["AD"] == "55,45"
    assert t["QUAL"] == 60.0 and t["ID"] == "rs1"
    # FORMAT order differs per row (AD:GT) — key lookup must follow the row
    n2 = rows[("chr12", "NORMAL")]
    assert n2["GT"] == "0/0" and n2["AD"] == "60,0" and n2["ID"] is None and n2["QUAL"] is None


def test_read_vcf_gz_header(tmp_path):
    from nextgenetl_spark.sources.vcf import read_vcf_header

    p = tmp_path / "x.vcf.gz"
    with gzip.open(p, "wt") as fh:
        fh.write('##INFO=<ID=AF,Number=A,Type=Float,Description="f">\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n')
    meta = read_vcf_header(str(p))
    assert meta["INFO"] == ["AF"] and meta["samples"] == []


def test_tsv_glob_samples_first_file_head(spark, tmp_path):
    """Inference over a 2-file glob must sample the lexicographically-first
    file: here a.tsv's values are strings while b.tsv's look numeric, so a
    wrong-file sample would infer INT64 and null out every a.tsv value."""
    from nextgenetl_spark.sources.tsv import read_tsv

    (tmp_path / "a.tsv").write_text("code\tqty\nabc\t1\nxyz\t2\n")
    (tmp_path / "b.tsv").write_text("code\tqty\n10\t3\n20\t4\n")
    df = read_tsv(spark, str(tmp_path / "*.tsv"))
    assert dict(df.dtypes)["code"] == "string"
    rows = df.collect()
    assert len(rows) == 4
    assert all(r["code"] is not None for r in rows)
    assert sorted(r["code"] for r in rows) == ["10", "20", "abc", "xyz"]


def test_tsv_hadoop_head_reads_first_file(spark, tmp_path):
    """The Hadoop FS head path (file:// URI) must hit the same first file."""
    from nextgenetl_spark.sources.tsv import _head_lines_hadoop

    (tmp_path / "a.tsv").write_text("h\nfirst\n")
    (tmp_path / "b.tsv").write_text("h\nsecond\n")
    text = _head_lines_hadoop(spark, f"file://{tmp_path}/*.tsv", 10)
    assert text.splitlines() == ["h", "first"]


def test_jsonl_corrupt_mode_policies(spark, tmp_path):
    """Malformed-line policies: permissive nulls, skip drops, quarantine
    captures the raw line, fail aborts."""
    import pytest

    from nextgenetl_spark.sources.jsonl import read_jsonl

    p = tmp_path / "dirty.jsonl"
    p.write_text('{"a": "x", "n": 1}\n{BROKEN\n{"a": "y", "n": 2}\n')

    perm = read_jsonl(spark, str(p)).collect()
    assert len(perm) == 3  # bad line -> all-NULL row
    assert sum(1 for r in perm if r["a"] is None and r["n"] is None) == 1

    skip = read_jsonl(spark, str(p), corrupt_mode="skip").collect()
    assert {(r["a"], r["n"]) for r in skip} == {("x", 1), ("y", 2)}

    q = read_jsonl(spark, str(p), corrupt_mode="quarantine")
    rows = q.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith("{BROKEN")
    good = [r for r in rows if r["_corrupt_record"] is None]
    assert {(r["a"], r["n"]) for r in good} == {("x", 1), ("y", 2)}

    with pytest.raises(Exception):
        read_jsonl(spark, str(p), corrupt_mode="fail").collect()


def test_read_fixed_width_infer_normalize(spark, tmp_path):
    from nextgenetl_spark.sources.fixed_width import read_fixed_width

    p = tmp_path / "data.fw"
    #      name(8)    age(4) score(8) flag(4)
    p.write_text(
        "name    age score   flag\n"
        "alice    42 1.5     Yes \n"
        "bob      -- 2.0     no  \n"
        "carol     7 NaN     true\n"
    )
    df = read_fixed_width(
        spark, str(p),
        fields=[("name", 1, 8), ("age", 9, 4), ("score", 13, 8), ("flag", 21, 4)],
        skip_leading_rows=1,
    )
    types = dict(df.dtypes)
    assert types == {"name": "string", "age": "bigint", "score": "double", "flag": "boolean"}
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alice"]["age"] == 42 and rows["alice"]["flag"] is True
    assert rows["bob"]["age"] is None and rows["bob"]["flag"] is False
    import math

    assert math.isnan(rows["carol"]["score"])  # 'NaN' casts to NaN, same as the TSV path
    assert df.count() == 3  # header dropped by value, rows intact


def test_read_fixed_width_duplicate_names(spark, tmp_path):
    from nextgenetl_spark.sources.fixed_width import read_fixed_width

    p = tmp_path / "dup.fw"
    p.write_text("1  2  x \n")
    df = read_fixed_width(spark, str(p), fields=[("a", 1, 3), ("a", 4, 3), ("b", 7, 3)])
    assert df.columns == ["a", "a_1", "b"]


# --- SQL-text ingest projection: equivalence with the Column-API builder ---

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import fuzz_examples

_NULL_WORDS = ["na", "n/a", "none", "", "--", "-", "null", "not reported", "unknown",
               "[not available]", "[not applicable]", "[unknown]", "."]
_PIECES = ["'", "\\", "\\'", "''", "\\\\", " ", "\t", "\n", "\u00a0", "\u2003", "\u3000",
           "yes", "no", "true", "false", "x", "\u00e9", "{", "}", "`", "%s"] + _NULL_WORDS


def _column_api_normalize(c):
    """The Column-API normalizer the SQL template replaced, kept verbatim
    as the oracle."""
    from pyspark.sql import functions as F

    t = F.trim(c)
    low = F.lower(t)
    return (
        F.when(low.isin(_NULL_WORDS), F.lit(None))
        .when(low.isin(["yes", "true"]), F.lit("True"))
        .when(low.isin(["no", "false"]), F.lit("False"))
        .otherwise(t)
    )


def _mixed_case(s, flips):
    return "".join(ch.upper() if f else ch for ch, f in zip(s, flips))


_raw_strings = st.one_of(
    st.text(max_size=12),
    st.builds(
        _mixed_case,
        st.lists(st.sampled_from(_PIECES), max_size=4).map("".join),
        st.lists(st.booleans(), min_size=40, max_size=40),
    ),
)


@settings(
    max_examples=fuzz_examples(120, 25),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(_raw_strings, min_size=1, max_size=12))
def test_normalize_value_sql_matches_column_builder(spark, values):
    """normalize_value_sql over a column AND over an escaped literal of each
    value agrees with the Column-API builder on quotes, backslashes, unicode
    whitespace and mixed-case null/yes/no words."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.functions.text import normalize_value_sql, sql_string

    df = spark.createDataFrame([(v,) for v in values], "s string")
    cols = [_column_api_normalize(F.col("s")).alias("old"), F.expr(normalize_value_sql("s")).alias("new")]
    for i, v in enumerate(values):
        cols += [_column_api_normalize(F.lit(v)).alias(f"old{i}"),
                 F.expr(normalize_value_sql(sql_string(v))).alias(f"new{i}")]
    for r in df.select(*cols).collect():
        assert r["old"] == r["new"]
        for i in range(len(values)):
            assert r[f"old{i}"] == r[f"new{i}"], values[i]


def test_read_tsv_header_filter_escapes_quotes_and_backslashes(spark, tmp_path):
    """The header row is dropped by comparing every column with its raw
    header text as an SQL literal, so a header holding ' and \\ must still
    match itself, and only itself."""
    p = tmp_path / "q.tsv"
    p.write_text(
        "it's\tback\\slash\t{n}\n"
        "it's\tback\\slash\t{n}\n"  # a repeated header row is dropped too
        "it\tback\\\\slash\t1\n"
        "it's\tback\\slash\t2\n"
    )
    df = read_tsv(spark, str(p))
    assert df.columns == ["it_s", "back_slash", "_n_"]
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("it", "back\\\\slash", "1"), ("it's", "back\\slash", "2")]


def test_read_jsonl_quotes_awkward_keys(spark, tmp_path):
    """JSON keys with a backtick, a space and a dot are one top-level
    column each (backtick-quoted, backticks doubled), and their string
    values are normalized like any other."""
    p = tmp_path / "keys.jsonl"
    recs = [
        {"a`b": " N/A ", "c d": "Yes", "e.f": " x ", "n": 1},
        {"a`b": "kept", "c d": "maybe", "e.f": "NULL", "n": 2},
    ]
    p.write_text("\n".join(json.dumps(r) for r in recs))
    df = read_jsonl(spark, str(p))
    assert df.columns == ["a`b", "c d", "e.f", "n"]
    rows = sorted((tuple(r) for r in df.collect()), key=lambda r: r[3])
    assert rows == [(None, "True", "x", 1), ("kept", "maybe", None, 2)]


def test_read_tsv_build_cost_is_flat_in_width(spark, tmp_path):
    """Building read_tsv's DataFrame issues about as many py4j commands
    for a 140-column file as for a 10-column one: the projection is one
    SQL text, not a JVM call per column."""
    import threading

    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    def write(ncols):
        p = tmp_path / f"w{ncols}.tsv"
        header = [f"c{i}" for i in range(ncols)]
        rows = [[str(r * i) if i % 2 else f"{r}.5" for i in range(ncols)] for r in range(5)]
        p.write_text("\n".join("\t".join(x) for x in [header, *rows]) + "\n")
        return str(p)

    # count this thread's commands; py4j's finalizer thread sends the
    # deletes of garbage-collected JVM references whenever it gets to them
    me = threading.get_ident()
    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    orig = cs.ClientServerConnection.send_command
    counts = {}
    for ncols in (10, 140):
        path = write(ncols)
        read_tsv(spark, path)  # warm the reader path once
        n = [0]

        def counting(self, command, _n=n):
            if threading.get_ident() == me and not command.startswith(delete):
                _n[0] += 1
            return orig(self, command)

        cs.ClientServerConnection.send_command = counting
        try:
            df = read_tsv(spark, path)
        finally:
            cs.ClientServerConnection.send_command = orig
        assert len(df.columns) == ncols
        counts[ncols] = n[0]
    assert abs(counts[140] - counts[10]) < 20, counts


def test_export_csv_writes_schema_sidecar(spark, tmp_path):
    """Pipeline export_csv persists the writer schema as _schema.json."""
    from nextgenetl_spark.plans.pipeline import Pipeline
    from nextgenetl_spark.schemas import load_schema_types

    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.5)], "k long, v string, bal double")
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    pipe.register("t", df)
    pipe.run_step(
        {"name": "e", "dest": "out", "sql": "SELECT * FROM t", "export_csv": "out_tsv"}
    )
    sidecar = tmp_path / "out_tsv" / "_schema.json"
    assert sidecar.exists()
    types = load_schema_types(str(sidecar))
    assert types == {"k": "INT64", "v": "STRING", "bal": "FLOAT64"}


def test_read_tsv_sidecar_pins_types_over_degenerate_first_file(spark, tmp_path):
    """The S9 hash-mismatch mechanism, forced: the lexicographically-first
    part file samples a double column as all-integral (head-of-first-file
    inference would re-type it INT64 and truncate every fractional value in
    OTHER files); the _schema.json sidecar pins FLOAT64 so the read-back is
    partitioning-insensitive."""
    from nextgenetl_spark.schemas import save_schema
    from nextgenetl_spark.sources.tsv import read_tsv

    d = tmp_path / "exp"
    d.mkdir()
    (d / "part-00000.csv").write_text("k\tbal\n1\t10.0\n2\t20.0\n")
    (d / "part-00001.csv").write_text("k\tbal\n3\t2.5\n")

    # without the sidecar: first-file inference re-types bal to INT64
    plain = read_tsv(spark, str(d), sep="\t")
    assert dict(plain.dtypes)["bal"] == "bigint"

    save_schema(str(d / "_schema.json"), {"k": "INT64", "bal": "FLOAT64"})
    pinned = read_tsv(spark, str(d), sep="\t")
    assert dict(pinned.dtypes)["bal"] == "double"
    vals = {r["k"]: r["bal"] for r in pinned.collect()}
    assert vals == {1: 10.0, 2: 20.0, 3: 2.5}


def test_tsv_export_roundtrip_under_varied_partitioning(spark, tmp_path):
    """End-to-end S9 shape at adversarial partitioning: many small part
    files, fractional values isolated away from the first file. The
    sidecar-pinned read-back must reproduce the source exactly."""
    from nextgenetl_spark.plans.pipeline import Pipeline
    from nextgenetl_spark.sources.tsv import read_tsv

    rows = [(i, float(i)) for i in range(1, 40)] + [(99, 0.25)]
    df = spark.createDataFrame(rows, "k long, bal double").repartition(8)
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    pipe.register("src", df)
    pipe.run_step(
        {"name": "e", "dest": "out", "sql": "SELECT * FROM src", "export_csv": "t", "sep": "\t"}
    )
    back = read_tsv(spark, str(tmp_path / "t"), sep="\t")
    assert dict(back.dtypes)["bal"] == "double"
    assert sorted(r["bal"] for r in back.collect()) == sorted(b for _, b in rows)


def test_schema_sidecar_survives_unmapped_atomic_types():
    """schema_to_fields maps NTZ/short/byte best-effort and degrades any
    other atomic (binary) to STRING instead of raising KeyError after the
    CSV already wrote (ADVICE: plans/pipeline.py export_csv sidecar)."""
    from nextgenetl_spark.schemas import fields_to_schema, schema_to_fields

    schema = T.StructType(
        [
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("s", T.ShortType()),
            T.StructField("b", T.ByteType()),
            T.StructField("raw", T.BinaryType()),
        ]
    )
    fields = schema_to_fields(schema)
    assert [f["type"] for f in fields] == ["DATETIME", "INT64", "INT64", "STRING"]
    # DATETIME reloads as a Spark timestamp via BQ_TO_SPARK — round-trippable
    back = fields_to_schema(fields)
    assert back["ntz"].dataType == T.TimestampType()


def test_fixed_width_short_first_file_raises(spark, tmp_path):
    """A first file shorter than skip_leading_rows gets a clear error, not
    a StopIteration surfacing as an opaque RuntimeError."""
    from nextgenetl_spark.sources.fixed_width import read_fixed_width

    f = tmp_path / "empty.txt"
    f.write_text("")
    with pytest.raises(ValueError, match="header"):
        read_fixed_width(
            spark, str(f), fields=[("k", 1, 4)], skip_leading_rows=1
        )
