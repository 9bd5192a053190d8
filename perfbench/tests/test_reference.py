import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import reference as ref


@pytest.fixture(scope="module")
def transcript_file(tmp_path_factory):
    from skewer_spark.datagen import generate_transcripts_pdf

    tr = generate_transcripts_pdf(inputs.events(5, 2_600))
    table = pa.Table.from_pandas(tr, preserve_index=False)
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us")))
    path = str(tmp_path_factory.mktemp("tr") / "part-00000.parquet")
    pq.write_table(table, path)
    return path


def test_routed_rows_cover_every_sink(transcript_file):
    rows = ref.routed_rows([transcript_file], threads=1)
    d = ref.sink_digest(rows)
    assert set(d) == {"sink_app", "sink_security", "sink_tools", "sink_default", "dead_letter"}
    assert d["dead_letter"][0] == 200  # event_id % 13 == 12 rows are malformed
    assert d["sink_default"][0] < 2_600  # dropped rows go nowhere


def test_one_dropped_row_is_a_mismatch(transcript_file):
    rows = ref.routed_rows([transcript_file], threads=1)
    want = ref.sink_digest(rows)
    assert ref.digest_mismatches(ref.sink_digest(rows), want) == []
    dropped = rows.drop(rows.index[rows.sink == "sink_tools"][0])
    assert ref.digest_mismatches(ref.sink_digest(dropped), want) == ["sink_tools"]
    changed = rows.copy()
    changed.loc[changed.index[0], "message"] += "!"
    assert ref.digest_mismatches(ref.sink_digest(changed), want) == [rows.sink.iloc[0]]


def test_digest_is_order_independent(transcript_file):
    rows = ref.routed_rows([transcript_file], threads=1)
    shuffled = rows.sample(frac=1.0, random_state=3)
    assert ref.sink_digest(shuffled) == ref.sink_digest(rows)


def test_curation_fingerprint_flags_one_dropped_doc(tmp_path):
    import duckdb
    from skewer_spark.ops.curation import curate_pack_oracle_sql
    from skewer_spark.ops.portable import to_duck

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    pq.write_table(
        pa.Table.from_pandas(inputs.corpus_base(5, 400), preserve_index=False),
        str(docs / "part-00000.parquet"),
    )
    want = ref.curation_reference(str(tmp_path))
    assert want["rows"] > 0 and os.path.exists(str(tmp_path) + ".ref.json")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')"
    )
    cols = ", ".join(f"{d} AS {k}" for k, (_, d) in ref.CURATION_FINGERPRINT.items())
    oracle = to_duck(curate_pack_oracle_sql())
    got = con.execute(
        f"SELECT {cols} FROM ({oracle}) o "
        f"WHERE doc_id <> (SELECT max(doc_id) FROM ({oracle}) x)"
    ).fetchone()
    got = dict(zip(ref.CURATION_FINGERPRINT, got))
    assert "rows" in ref.fingerprint_mismatches(got, want)
    assert ref.fingerprint_mismatches(want, want) == []
