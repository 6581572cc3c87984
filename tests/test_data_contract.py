"""Data-contract smoke test: pin what the LOADED tables actually contain.

Round 4 regression postmortem (VERDICT.md r4): the driver regenerated
/root/testdata with ``events.ts`` re-encoded INT64-nanos → timestamp[us],
and the reader's hard-coded nanos conversion silently compressed 30 days
of 2024 events into 43 minutes of 1970 — five green queries went red with
no test failing at commit time. This file is the tripwire: it loads every
table through the production ``load_tables`` path and asserts (a) the
logical dtypes queries depend on and (b) cheap value invariants that any
physical-encoding misread would violate. It must stay FAST (sf0.001,
one aggregate pass per table) so it runs in every pytest invocation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from big_data_chicago_crimes_spark.schemas import TESTDATA_SCHEMAS
from big_data_chicago_crimes_spark.sources.readers import load_table, load_tables


def test_loaded_dtypes_match_declared_schemas(spark, sf_dir):
    """Every table loads with exactly the declared logical schema —
    regardless of how the writer encoded it physically."""
    tables = load_tables(spark, sf_dir)
    for name, declared in TESTDATA_SCHEMAS.items():
        got = {f.name: f.dataType for f in tables[name].schema.fields}
        want = {f.name: f.dataType for f in declared.fields}
        assert got == want, f"{name}: loaded schema drifted: {got} != {want}"


def test_all_tables_nonempty(spark, sf_dir):
    tables = load_tables(spark, sf_dir)
    for name in TESTDATA_SCHEMAS:
        assert tables[name].limit(1).count() == 1, f"{name} is empty"


def test_events_ts_is_modern_epoch(spark, sf_dir):
    """The invariant that would have caught the round-4 corruption:
    misreading ns as µs lands in 1970; misreading µs as ns lands in
    +500000s. Any correct read of the synthetic events is 2000–2100."""
    row = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.year(F.min("ts")).alias("min_year"),
            F.year(F.max("ts")).alias("max_year"),
            F.count("*").alias("n"),
            F.sum(F.col("ts").isNull().cast("long")).alias("null_ts"),
        )
        .collect()[0]
    )
    assert row.n > 0
    assert row.null_ts == 0, "events.ts must never be null after load"
    assert 2000 <= row.min_year <= 2100, f"min(ts) year {row.min_year}: misread encoding?"
    assert 2000 <= row.max_year <= 2100, f"max(ts) year {row.max_year}: misread encoding?"


def test_date_columns_are_modern_epoch(spark, sf_dir):
    """Same invariant for the other timestamp columns queries group by."""
    tables = load_tables(spark, sf_dir)
    for name, col in [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]:
        row = tables[name].agg(
            F.year(F.min(col)).alias("lo"), F.year(F.max(col)).alias("hi")
        ).collect()[0]
        assert 1990 <= row.lo <= 2100, f"{name}.{col} min year {row.lo}"
        assert 1990 <= row.hi <= 2100, f"{name}.{col} max year {row.hi}"


def test_embeddings_have_consistent_dims(spark, sf_dir):
    """ANN operators assume a fixed embedding dimensionality; a writer
    change that varied it would break dot products silently."""
    dims = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d"))
        .distinct()
        .collect()
    )
    assert len(dims) == 1, f"embedding dims not uniform: {[r.d for r in dims]}"
    assert dims[0].d > 0


def test_events_read_schema_rejects_unknown_encoding(tmp_path, spark):
    """The footer peek must fail LOUDLY on an encoding it doesn't
    understand — silence is how round 4 happened."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_chicago_crimes_spark.schemas import TESTDATA_SCHEMAS
    from big_data_chicago_crimes_spark.sources.readers import adaptive_read_schema

    bad = tmp_path / "events.parquet"
    pq.write_table(pa.table({"ts": pa.array(["2024-01-01"], pa.string())}), str(bad))
    with pytest.raises(TypeError, match="unsupported parquet type"):
        adaptive_read_schema(str(bad), TESTDATA_SCHEMAS["events"])


def test_normalize_event_ts_handles_both_encodings(spark, tmp_path):
    """Both physical encodings the driver has shipped load to the SAME
    logical values: 2024-01-01T00:00:07 stays 2024-01-01T00:00:07
    whether it arrives as INT64 ns or timestamp[us]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_chicago_crimes_spark.schemas import TESTDATA_SCHEMAS
    from big_data_chicago_crimes_spark.sources.readers import (
        adaptive_read_schema,
        normalize_temporals,
        read_parquet,
    )

    declared = TESTDATA_SCHEMAS["events"]

    us = 1_704_067_207_000_000  # 2024-01-01T00:00:07 UTC in µs
    cols = {
        "event_id": pa.array([1], pa.int64()),
        "user_id": pa.array([1], pa.int64()),
        "event_type": pa.array(["view"]),
        "value": pa.array([1.0]),
        "props": pa.array(["{}"]),
    }
    loaded = {}
    for enc, arr in [
        ("ns", pa.array([us * 1000], pa.int64())),
        ("us", pa.array([us], pa.timestamp("us"))),
    ]:
        d = tmp_path / enc
        d.mkdir()
        path = str(d / "events.parquet")
        pq.write_table(pa.table({**cols, "ts": arr}), path)
        schema, units = adaptive_read_schema(path, declared)
        df = normalize_temporals(read_parquet(spark, path, schema), declared, units)
        loaded[enc] = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).collect()[0][0]
    assert loaded["ns"] == loaded["us"] == "2024-01-01 00:00:07"


def _ns_events_fixture(tmp_path, n: int = 5) -> str:
    """Write a TIMESTAMP(NANOS)-encoded events parquet — the physical
    encoding the driver shipped in rounds 1-3 — and assert it really is
    ns-typed (a silent pyarrow coercion would make the test vacuous)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    us = 1_704_067_207_000_000  # 2024-01-01T00:00:07 UTC
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [(us + i * 60_000_000) * 1000 for i in range(n)], pa.timestamp("ns")
            ),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    return path


def test_nanos_encoded_events_batch_load(spark, tmp_path):
    """The TIMESTAMP(NANOS) branch of adaptive_read_schema/normalize_temporals
    is dead against current testdata (timestamp[us] since r4) — exercise
    it explicitly so it can't rot until the driver flips encodings again
    (VERDICT r5 #5)."""
    _ns_events_fixture(tmp_path)
    df = load_table(spark, str(tmp_path), "events")
    import pyspark.sql.types as T

    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(
        r[0] for r in df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).collect()
    )
    assert got[0] == "2024-01-01 00:00:07"
    assert got[-1] == "2024-01-01 00:04:07"


def test_nanos_encoded_events_stream_load(spark, tmp_path):
    """Same fixture through the STREAMING source: the stream harness
    shares the batch reader's footer peek, and stream/batch symmetry
    includes ingestion of every encoding the driver has shipped."""
    from tests.conftest import read_events_stream, run_stream_to_memory

    _ns_events_fixture(tmp_path)
    stream = read_events_stream(spark, str(tmp_path))
    assert stream.isStreaming
    out = run_stream_to_memory(
        stream.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t")),
        "ns_encoded_stream_test",
        output_mode="append",
    )
    got = sorted(r.t for r in out.collect())
    assert got[0] == "2024-01-01 00:00:07"
    assert got[-1] == "2024-01-01 00:04:07"


def test_date32_encoded_temporal_column_loads_as_timestamp(spark, tmp_path):
    """If a future testdata generation ships o_orderdate as parquet DATE
    instead of timestamp, the adaptive reader must load it as
    midnight-UTC timestamps rather than crashing on a schema mismatch
    (the same failure class as the round-4 events regression, for the
    other temporal columns)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    table = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_custkey": pa.array([1, 1], pa.int64()),
            "o_orderstatus": pa.array(["O", "F"]),
            "o_totalprice": pa.array([10.0, 20.0]),
            "o_orderdate": pa.array(
                [datetime.date(2024, 1, 1), datetime.date(2024, 6, 15)], pa.date32()
            ),
            "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
            "o_clerk": pa.array(["c1", "c2"]),
            "o_shippriority": pa.array([0, 0], pa.int32()),
            "o_comment": pa.array(["a", "b"]),
        }
    )
    path = str(tmp_path / "orders.parquet")
    pq.write_table(table, path)
    df = load_table(spark, str(tmp_path), "orders")
    assert isinstance(df.schema["o_orderdate"].dataType, T.TimestampType)
    got = sorted(
        r[0]
        for r in df.select(
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
        ).collect()
    )
    assert got == ["2024-01-01 00:00:00", "2024-06-15 00:00:00"]


def test_documents_and_embeddings_share_id_space(spark, sf_dir):
    """docs_hybrid_search joins embeddings.vec_id = documents.doc_id —
    that rerank silently under-returns if the id spaces drift. Pin the
    alignment: every doc_id has exactly one embedding row."""
    from big_data_chicago_crimes_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    docs = t.documents.select(F.col("doc_id").alias("id"))
    embs = t.embeddings.select(F.col("vec_id").alias("id"))
    assert docs.count() == embs.count()
    assert docs.join(embs, "id", "left_anti").count() == 0


def test_documents_corpus_has_no_organic_phone_or_ip_matches(spark, sf_dir):
    """Corpus-fact tripwire for docs_pii_scrub_surface's merged oracle
    (ADVICE r14): the organic leg hard-codes total_phones/total_ips = 0
    and an email-only redaction delta — an assumption about the
    TESTDATA (no NANP/IPv4 matches anywhere, including digit runs
    inside emails/URLs). If a testdata regeneration ever plants such
    content, THIS test fails with the attribution 'data changed', so
    the driver-gate mismatch is not misread as a scrub-operator bug."""
    from big_data_chicago_crimes_spark.functions.text import pii_counts

    docs = load_table(spark, sf_dir, "documents")
    hits = (
        docs.select(pii_counts("text").alias("p"))
        .agg(
            F.sum("p.phones").alias("phones"),
            F.sum("p.ips").alias("ips"),
        )
        .head()
    )
    assert (hits["phones"], hits["ips"]) == (0, 0), (
        "testdata now contains organic phone/IP matches — update the "
        "docs_pii_scrub_surface oracle's hard-coded zeros before "
        "debugging the scrub operators"
    )
