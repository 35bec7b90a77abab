"""Multimodal plumbing: binary columns, Arrow batch decode stub."""

import pytest

from log_project_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(0, "some image bytes"), (1, "other payload"), (2, "x")],
        "doc_id long, text string",
    )
    return mm.media_table_from_text(docs, "doc_id", "text", kind="image")


def test_media_schema(media):
    assert dict(media.dtypes)["blob"] == "binary"
    assert media.count() == 3


def test_extract_features_deterministic(spark, media):
    f1 = {r["media_id"]: (r["n_bytes"], tuple(r["feat"])) for r in mm.extract_features(media, dim=8).collect()}
    f2 = {r["media_id"]: (r["n_bytes"], tuple(r["feat"])) for r in mm.extract_features(media.repartition(3), dim=8).collect()}
    assert f1 == f2  # partition-invariant, deterministic
    assert f1[0][0] == len("some image bytes")
    assert len(f1[0][1]) == 8


def test_real_decode_is_stubbed(media):
    with pytest.raises(NotImplementedError):
        mm.extract_features(media, fake=False)


def test_multimodal_gate_pair_on_non_ascii_and_empty(spark, tmp_path):
    """ADVICE r1: the oracle must read the first UTF-8 BYTE (not the
    first code point) and emit -1 for empty strings — run the exact
    queries()/oracle_sql() pair on rows the testdata never exercises."""
    import duckdb
    import __spark_entry__ as entry

    rows = [(0, "héllo"), (1, ""), (2, "abc"), (3, "€uro")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_bytes"], r["header_byte"])
        for r in entry.q_multimodal_stub(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(entry.oracle_sql()["multimodal_stub"]).fetchall()
    }
    assert got == want
    assert got[0] == (6, 0x68)   # 'é' is 2 bytes; first byte is 'h'
    assert got[1] == (0, -1)     # empty -> -1
    assert got[3] == (4 + 2, 0xE2)  # '€' = E2 82 AC
