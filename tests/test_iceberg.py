"""Avro container codec + Iceberg table layer (snapshot pinning, time
travel, incremental scans, snapshot-checkpointed builds)."""

import contextlib
import io
import json
import time

import pytest
from pyspark.sql import functions as F

from blacklab_spark import avro_io
from blacklab_spark.fixtures import pages_df
from blacklab_spark.iceberg import (
    IcebergTable,
    index_iceberg,
    index_iceberg_delta,
    pages_from_iceberg,
)

# ---------------------------------------------------------------------------
# Avro binary encoding: spec-pinned values (Avro 1.11 spec "Binary encoding")


def test_zigzag_spec_values():
    # the spec's own table: 0->0, -1->1, 1->2, -2->3, 2->4
    for n, z in [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4), (-64, 127), (64, 128)]:
        assert avro_io.zigzag_encode(n) == z
        assert avro_io.zigzag_decode(z) == n


def test_varint_spec_bytes():
    def enc(n):
        b = io.BytesIO()
        avro_io.write_long(b, n)
        return b.getvalue()

    assert enc(0) == b"\x00"
    assert enc(1) == b"\x02"
    assert enc(-1) == b"\x01"
    assert enc(-64) == b"\x7f"
    assert enc(64) == b"\x80\x01"  # zigzag 128 -> LEB128 two bytes
    for n in (0, 1, -1, 63, -64, 64, 2**31, -(2**40), 2**62):
        assert avro_io.read_long(io.BytesIO(enc(n))) == n


def test_reader_against_hand_built_container():
    """The generic reader decodes a container assembled byte-by-byte from
    the spec — so reader and writer can't share a conjugate bug."""
    buf = io.BytesIO()
    buf.write(b"Obj\x01")
    schema = b'"long"'
    # header map: one block of 2 entries, then end-of-blocks 0
    avro_io.write_long(buf, 2)
    avro_io.write_bytes(buf, b"avro.schema")
    avro_io.write_bytes(buf, schema)
    avro_io.write_bytes(buf, b"avro.codec")
    avro_io.write_bytes(buf, b"null")
    avro_io.write_long(buf, 0)
    sync = bytes(range(16))
    buf.write(sync)
    # one data block: 3 longs 1,2,-3 -> zigzag varints 02 04 05
    avro_io.write_long(buf, 3)
    avro_io.write_long(buf, 3)
    buf.write(b"\x02\x04\x05")
    buf.write(sync)
    got_schema, records, meta = avro_io.read_container(buf.getvalue())
    assert got_schema == "long"
    assert records == [1, 2, -3]
    assert meta["avro.codec"] == b"null"


def test_array_negative_count_form():
    """Arrays may use the negative-count + byte-size block form."""
    buf = io.BytesIO()
    avro_io.write_long(buf, -2)  # 2 items, size follows
    avro_io.write_long(buf, 2)  # block byte size
    buf.write(b"\x02\x04")  # items 1, 2
    avro_io.write_long(buf, 0)  # end of blocks
    got = avro_io.read_datum(
        io.BytesIO(buf.getvalue()), {"type": "array", "items": "long"}, {}
    )
    assert got == [1, 2]


NESTED_SCHEMA = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "u", "type": ["null", "long"]},
        {"name": "d", "type": "double"},
        {"name": "fl", "type": "float"},
        {"name": "b", "type": "boolean"},
        {"name": "by", "type": "bytes"},
        {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 8}},
        {"name": "en", "type": {"type": "enum", "name": "e", "symbols": ["A", "B"]}},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "mp", "type": {"type": "map", "values": "string"}},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "inner_r",
                "fields": [{"name": "x", "type": ["null", "string"]}],
            },
        },
        {"name": "inner2", "type": ["null", "inner_r"]},  # named-type reuse
    ],
}


def _nested_record(i):
    return {
        "s": f"s{i}é",
        "u": None if i % 3 == 0 else i * 7,
        "d": i / 3.0,
        "fl": float(i),
        "b": i % 2 == 0,
        "by": bytes([i % 256]) * (i % 5),
        "fx": bytes(range(8)),
        "en": "A" if i % 2 else "B",
        "arr": list(range(i % 7)),
        "mp": {f"k{j}": f"v{i}:{j}" for j in range(i % 4)},
        "inner": {"x": None if i % 2 else f"x{i}"},
        "inner2": None if i % 4 == 0 else {"x": f"y{i}"},
    }


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip_nested(codec):
    recs = [_nested_record(i) for i in range(100)]
    blob = avro_io.write_container(NESTED_SCHEMA, recs, codec=codec, block_records=17)
    schema, got, meta = avro_io.read_container(blob)
    assert schema["name"] == "outer"
    assert meta["avro.codec"] == codec.encode()
    # floats come back as float32 — compare with tolerance, rest exactly
    for a, b in zip(recs, got):
        fa, fb = a.pop("fl"), b.pop("fl")
        assert abs(fa - fb) < 1e-6
        assert a == b


def test_container_roundtrip_empty():
    blob = avro_io.write_container({"type": "record", "name": "r", "fields": []}, [])
    _, got, _ = avro_io.read_container(blob)
    assert got == []


# ---------------------------------------------------------------------------
# Iceberg table layer


def _batch2(spark):
    """4 extra docs with urls DISTINCT from the tiny tier's (url is the
    document key: the input-hint's per-row invariant is keyed on it)."""
    return pages_df(spark, "small", n=4).withColumn(
        "url", F.concat(F.lit("http://crawl2.test/"), F.md5("url"))
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A pages table with two append snapshots (6 tiny docs, then 4 more)."""
    loc = str(tmp_path_factory.mktemp("ice") / "pages")
    t = IcebergTable.create(
        loc, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.append(spark, pages_df(spark, "tiny"))
    time.sleep(0.02)  # distinct snapshot-log timestamps for as-of travel
    t.append(spark, _batch2(spark))
    return t


def test_snapshot_log_and_metadata(table):
    md = table.metadata
    assert md["format-version"] == 2
    assert len(md["snapshots"]) == 2
    assert md["last-sequence-number"] == 2
    s1, s2 = md["snapshots"]
    assert s2["parent-snapshot-id"] == s1["snapshot-id"]
    assert md["current-snapshot-id"] == s2["snapshot-id"]
    assert md["refs"]["main"]["snapshot-id"] == s2["snapshot-id"]
    assert [e["snapshot-id"] for e in md["snapshot-log"]] == [
        s1["snapshot-id"], s2["snapshot-id"],
    ]


def test_read_current_and_time_travel(spark, table):
    s1, s2 = table.snapshots()
    cur = table.read(spark)
    assert cur.count() == 10
    old = table.read(spark, snapshot_id=s1["snapshot-id"])
    assert old.count() == 6
    assert sorted(r.url for r in old.collect()) == sorted(
        r.url for r in pages_df(spark, "tiny").collect()
    )
    # as-of-timestamp travel: at snap1's commit time, snap2 not yet visible
    asof = table.read(spark, as_of_ms=s1["timestamp-ms"])
    assert asof.count() == 6
    # before the first commit: empty table with the full schema
    empty = table.read(spark, as_of_ms=s1["timestamp-ms"] - 1)
    assert empty.count() == 0
    assert empty.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_read_incremental(spark, table):
    s1, s2 = table.snapshots()
    inc = table.read_incremental(spark, s1["sequence-number"])
    assert inc.count() == 4
    urls_small4 = {r.url for r in _batch2(spark).collect()}
    assert {r.url for r in inc.collect()} == urls_small4
    # explicit end == start -> nothing
    same = table.read_incremental(spark, s2["sequence-number"])
    assert same.count() == 0


def test_manifest_files_are_real_avro_with_field_ids(table):
    """The manifest list and manifest are spec-shaped Avro containers:
    field-ids present, sequence-number inheritance exercised (entries
    written null, resolved from the manifest list)."""
    snap = table.snapshot()
    with open(snap["manifest-list"][len("file://"):], "rb") as f:
        schema, manifests, meta = avro_io.read_container(f.read())
    ids = {f["name"]: f.get("field-id") for f in schema["fields"]}
    assert ids["manifest_path"] == 500 and ids["sequence_number"] == 515
    assert meta["format-version"] == b"2"
    assert len(manifests) == 2  # snap2's list carries snap1's manifest forward
    assert [m["sequence_number"] for m in manifests] == [1, 2]
    with open(manifests[-1]["manifest_path"][len("file://"):], "rb") as f:
        eschema, entries, emeta = avro_io.read_container(f.read())
    eids = {f["name"]: f.get("field-id") for f in eschema["fields"]}
    assert eids["status"] == 0 and eids["data_file"] == 2
    dids = {
        f["name"]: f.get("field-id")
        for f in next(
            f for f in eschema["fields"] if f["name"] == "data_file"
        )["type"]["fields"]
    }
    assert dids["file_path"] == 100 and dids["content"] == 134
    assert all(e["status"] == 1 for e in entries)
    assert all(e["sequence_number"] is None for e in entries)  # inherit form
    assert emeta["content"] == b"data"
    # planner resolved the inherited sequence number from the list entry
    files = table.data_files()
    assert {f["sequence_number"] for f in files} == {1, 2}
    assert all(f["record_count"] > 0 for f in files)


def test_pages_from_iceberg_fallback_and_registry(spark, table):
    from blacklab_spark.sources import INPUT_FORMATS

    assert INPUT_FORMATS["iceberg"]["reader"] is pages_from_iceberg
    # no iceberg jar in the sandbox: auto must fall back to the planner
    df = pages_from_iceberg(spark, table.location)
    assert df.count() == 10
    s1 = table.snapshots()[0]
    assert pages_from_iceberg(
        spark, table.location, snapshot_id=s1["snapshot-id"]
    ).count() == 6
    with pytest.raises(Exception):
        pages_from_iceberg(spark, table.location, native="always")


def test_relocated_table_reads(spark, table, tmp_path):
    """Metadata records absolute URIs; a MOVED table dir (the
    synth-into-tmp-then-rename commit pattern) must still plan and read —
    recorded paths are re-rooted under the actual location."""
    import shutil

    moved = str(tmp_path / "moved-pages")
    shutil.copytree(table.location, moved)
    t2 = IcebergTable(moved)
    assert t2.metadata["location"] != "file://" + moved  # still the old root
    files = t2.data_files()
    assert all(f["path"].startswith(moved) for f in files)
    assert t2.read(spark).count() == 10


def test_append_only_guard(table, tmp_path):
    """Delete manifests are refused loudly, not misread."""
    snap = table.snapshot()
    lst = snap["manifest-list"][len("file://"):]
    _, manifests, _ = avro_io.read_container(open(lst, "rb").read())
    manifests[0]["content"] = 1  # pretend a delete manifest
    import blacklab_spark.iceberg as I

    blob = avro_io.write_container(I._MANIFEST_FILE_SCHEMA, manifests)
    bad = tmp_path / "bad-list.avro"
    bad.write_bytes(blob)
    t2 = IcebergTable(table.location)
    t2.metadata = json.loads(json.dumps(t2.metadata))
    t2.metadata["snapshots"][-1]["manifest-list"] = str(bad)
    with pytest.raises(NotImplementedError):
        t2.data_files()


# ---------------------------------------------------------------------------
# snapshot-checkpointed index builds


def test_index_iceberg_pins_snapshot_and_resumes(spark, table, tmp_path):
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix")
    s1, s2 = table.snapshots()
    meta = index_iceberg(
        spark, table.location, out, snapshot_id=s1["snapshot-id"],
        n_shards=2, block_size=8,
    )
    assert meta["n_docs"] == 6  # pinned snapshot, not current
    stamp = json.load(open(f"{out}/segments/seg0/iceberg_source.json"))
    assert stamp["snapshot_id"] == s1["snapshot-id"]

    # resume at the SAME snapshot: stages reused (docs stage not rebuilt)
    docs_mtime = __import__("os").path.getmtime(f"{out}/segments/seg0/docs/_SUCCESS")
    meta2 = index_iceberg(
        spark, table.location, out, snapshot_id=s1["snapshot-id"],
        n_shards=2, block_size=8,
    )
    assert meta2["n_docs"] == 6
    assert __import__("os").path.getmtime(
        f"{out}/segments/seg0/docs/_SUCCESS"
    ) == docs_mtime

    # resume against a DIFFERENT snapshot: stale checkpoints discarded
    meta3 = index_iceberg(
        spark, table.location, out, n_shards=2, block_size=8
    )  # current snapshot = s2
    assert meta3["n_docs"] == 10
    stamp = json.load(open(f"{out}/segments/seg0/iceberg_source.json"))
    assert stamp["snapshot_id"] == s2["snapshot-id"]
    ix = Index(spark, out)
    assert ix.docs.count() == 10


def test_index_iceberg_delta(spark, tmp_path):
    """Initial snapshot indexed, new commit -> ONE delta segment holding
    exactly the appended rows; queries see both; idempotent when current."""
    from blacklab_spark.query import Index

    loc = str(tmp_path / "pages")
    t = IcebergTable.create(
        loc, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.append(spark, pages_df(spark, "tiny"))
    out = str(tmp_path / "ix")
    index_iceberg(spark, loc, out, n_shards=2, block_size=8)

    assert index_iceberg_delta(spark, loc, out, n_shards=2, block_size=8) is None

    extra = spark.createDataFrame(
        [("http://x.test/new", None, None, "zebra zebra quick", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    t.append(spark, extra)
    meta = index_iceberg_delta(spark, loc, out, n_shards=2, block_size=8)
    assert meta is not None and meta["n_docs"] == 1
    seg = meta["segment"]
    assert seg.startswith("iceberg-")

    ix = Index(spark, out)
    assert ix.docs.count() == 7
    hits = ix.term_hits("zebra")
    assert hits.count() == 2
    # doc ids continue after the base segment (delta model)
    assert {r.doc_id for r in hits.collect()} == {6}
    # 'quick' spans both segments
    assert ix.term_hits("quick").select("doc_id").distinct().count() == 3

    # watermark advanced: nothing further to ingest
    assert index_iceberg_delta(spark, loc, out, n_shards=2, block_size=8) is None

    # the watermark snapshot expires: the next delta starts from its
    # sequence number and indexes exactly the row appended after it
    t.append(spark, spark.createDataFrame(
        [("http://x.test/late", None, None, "yak quick", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ))
    wm = json.load(open(f"{out}/iceberg_watermark.json"))
    t.expire_snapshots(keep_last=1)
    assert wm["snapshot_id"] not in {s["snapshot-id"] for s in t.snapshots()}
    meta = index_iceberg_delta(spark, loc, out, n_shards=2, block_size=8)
    assert meta is not None and meta["n_docs"] == 1
    ix = Index(spark, out)
    assert ix.docs.count() == 8
    assert {r.doc_id for r in ix.term_hits("yak").collect()} == {7}


def test_follow_iceberg_continuous_with_compaction(spark, tmp_path):
    """Polling follower: each commit -> one delta segment; the tiered pass
    merges once a size level fills (merge_factor single-doc deltas);
    queries stay correct across the merge; drained follower returns []."""
    from blacklab_spark.iceberg import follow_iceberg
    from blacklab_spark.query import Index

    loc = str(tmp_path / "pages")
    t = IcebergTable.create(
        loc, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.append(spark, pages_df(spark, "tiny"))
    out = str(tmp_path / "ix")
    index_iceberg(spark, loc, out, n_shards=2, block_size=8)

    assert follow_iceberg(spark, loc, out, n_shards=2, block_size=8) == []

    for i in range(3):
        t.append(spark, spark.createDataFrame(
            [(f"http://f.test/{i}", None, None, f"zebra follow{i}", "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ))
        metas = follow_iceberg(
            spark, loc, out, n_shards=2, block_size=8, merge_factor=3
        )
        assert len(metas) == 1 and metas[0]["n_docs"] == 1

    reg = json.load(open(f"{out}/segments.json"))["segments"]
    # three 1-doc deltas filled level 0 (merge_factor=3) -> merged into one
    assert not any(s.startswith("iceberg-") for s in reg)
    assert any("tier" in s or "merge" in s for s in reg)

    ix = Index(spark, out)
    assert ix.docs.count() == 9
    assert ix.term_hits("zebra").select("doc_id").distinct().count() == 3
    # watermark survives compaction: still nothing new to ingest
    assert follow_iceberg(spark, loc, out, n_shards=2, block_size=8) == []


# ---------------------------------------------------------------------------
# derandomized hypothesis: the avro codec round-trips ANY records of the
# manifest-like nested schema (same discipline as the posting codecs)

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_long = st.integers(min_value=-(2**62), max_value=2**62)
_rec = st.fixed_dictionaries(
    {
        "s": st.text(max_size=40),
        "u": st.one_of(st.none(), _long),
        "d": st.floats(allow_nan=False, allow_infinity=False),
        "fl": st.just(0.0),
        "b": st.booleans(),
        "by": st.binary(max_size=40),
        "fx": st.just(bytes(8)),
        "en": st.sampled_from(["A", "B"]),
        "arr": st.lists(_long, max_size=10),
        "mp": st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=5),
        "inner": st.fixed_dictionaries({"x": st.one_of(st.none(), st.text(max_size=8))}),
        "inner2": st.one_of(
            st.none(),
            st.fixed_dictionaries({"x": st.one_of(st.none(), st.text(max_size=8))}),
        ),
    }
)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(_rec, max_size=20), st.sampled_from(["null", "deflate"]))
def test_avro_roundtrip_property(recs, codec):
    blob = avro_io.write_container(NESTED_SCHEMA, recs, codec=codec, block_records=7)
    _, got, _ = avro_io.read_container(blob)
    for a, b in zip(recs, got):
        a, b = dict(a), dict(b)
        a.pop("fl"), b.pop("fl")
        assert a == b
    assert len(got) == len(recs)


def test_cli_iceberg_subcommands(spark, tmp_path, capsys):
    """CLI surface: iceberg-index (pinned build) + iceberg-follow (drain)."""
    from argparse import Namespace

    from blacklab_spark import cli

    loc = str(tmp_path / "pages")
    t = IcebergTable.create(
        loc, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.append(spark, pages_df(spark, "tiny"))
    out = str(tmp_path / "ix")
    rc = cli._run(spark, Namespace(
        cmd="iceberg-index", table=loc, out=out,
        snapshot_id=None, shards=2, resume=False,
    ))
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["n_docs"] == 6

    t.append(spark, _batch2(spark))
    rc = cli._run(spark, Namespace(
        cmd="iceberg-follow", table=loc, out=out, shards=2,
        poll_s=0.1, watch=False,
    ))
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(got["delta_segments"]) == 1


# ---------------------------------------------------------------------------
# partitioned tables: transforms, manifest partition tuples, scan pruning


def test_murmur3_spec_values():
    """Spec Appendix B bucket-hash vectors + the canonical smhasher vector:
    if any byte of the encoding or hash is off, these mismatch."""
    from blacklab_spark.iceberg import _bucket_bytes, murmur3_32

    assert murmur3_32(_bucket_bytes(34, "long")) == 2017239379
    assert murmur3_32(_bucket_bytes(34, "int")) == 2017239379  # ints hash as longs
    assert murmur3_32(_bucket_bytes("iceberg", "string")) == 1210000089
    assert murmur3_32(b"abc") == 0xB3DD93FA
    assert murmur3_32(b"") == 0


def test_transforms_python_side():
    from blacklab_spark.iceberg import apply_transform

    import datetime as dt

    ts = dt.datetime(2024, 1, 3, 15, 30, tzinfo=dt.timezone.utc)
    assert apply_transform("day", None, ts, "timestamptz") == (ts - dt.datetime(
        1970, 1, 1, tzinfo=dt.timezone.utc)).days
    assert apply_transform("truncate", 3, "webtext", "string") == "web"
    assert apply_transform("truncate", 10, 37, "long") == 30
    assert apply_transform("truncate", 10, -7, "long") == -10  # floor, not toward 0
    assert apply_transform("identity", None, "nl", "string") == "nl"
    assert apply_transform("bucket", 16, "iceberg", "string") == (1210000089 & 0x7FFFFFFF) % 16


def test_partitioned_write_and_prune(spark, tmp_path):
    """day+bucket partitioned table: partition tuples land in the
    manifests, metadata-side pruning plans only the matching files, and a
    point lookup by raw url probes exactly its bucket."""
    import datetime as dt

    from blacklab_spark.iceberg import apply_transform

    loc = str(tmp_path / "ppages")
    t = IcebergTable.create(
        loc,
        "url string, warc_ts timestamp, html binary, text string, lang string",
        partition_by=["day(warc_ts)", "bucket(4, url)"],
    )
    rows = [
        (
            f"http://p.test/{i}",
            dt.datetime(2024, 1, 1 + i % 3, 12, 0, 0),
            None,
            f"doc {i}",
            "en",
        )
        for i in range(24)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.append(spark, df)

    files = t.data_files()
    assert all(set(f["partition"]) == {"warc_ts_day", "url_bucket"} for f in files)
    days = {f["partition"]["warc_ts_day"] for f in files}
    assert len(days) == 3

    # day pruning: metadata-side file count shrinks, rows match the raw filter
    d0 = apply_transform("day", None, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), "timestamptz")
    pruned = t.data_files(partition_filter={"warc_ts_day": d0})
    assert 0 < len(pruned) < len(files)
    got = t.read(spark, partition_filter={"warc_ts_day": d0})
    assert got.count() == 8
    assert {r.url for r in got.collect()} == {f"http://p.test/{i}" for i in range(24) if i % 3 == 0}

    # bucket point lookup: probe ONLY the url's bucket, find the row
    url = "http://p.test/7"
    b = t.partition_value("url_bucket", url)
    probe = t.read(spark, partition_filter={"url_bucket": b}).filter(F.col("url") == url)
    assert probe.count() == 1
    assert len(t.data_files(partition_filter={"url_bucket": b})) < len(files)

    # range + in filters
    ge = t.data_files(partition_filter={"warc_ts_day": (">=", d0 + 1)})
    assert {f["partition"]["warc_ts_day"] for f in ge} == {d0 + 1, d0 + 2}
    two = t.data_files(partition_filter={"warc_ts_day": [d0, d0 + 2]})
    assert {f["partition"]["warc_ts_day"] for f in two} == {d0, d0 + 2}

    # unpruned read returns everything (partition cols preserved in files)
    assert t.read(spark).count() == 24
    assert t.read(spark).filter(F.col("warc_ts").isNotNull()).count() == 24


def test_partitioned_identity_truncate(spark, tmp_path):
    loc = str(tmp_path / "ppages2")
    t = IcebergTable.create(
        loc,
        "url string, warc_ts timestamp, html binary, text string, lang string",
        partition_by=["lang", "truncate(4, url)"],
    )
    df = spark.createDataFrame(
        [
            ("http://a/1", None, None, "x", "en"),
            ("http://a/2", None, None, "y", "nl"),
            ("ftp://b/3", None, None, "z", "nl"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    t.append(spark, df)
    nl = t.read(spark, partition_filter={"lang": "nl"})
    assert {r.url for r in nl.collect()} == {"http://a/2", "ftp://b/3"}
    # identity-partitioned source column survives in the data files
    assert {r.lang for r in nl.collect()} == {"nl"}
    ftp = t.data_files(partition_filter={"url_truncate": "ftp:"})
    assert len(ftp) >= 1
    assert all(f["partition"]["url_truncate"] == "ftp:" for f in ftp)


def test_partitioned_incremental_and_delta_index(spark, tmp_path):
    """Partitioning composes with snapshots: incremental scan + delta
    indexing work unchanged on a partitioned table."""
    loc = str(tmp_path / "ppages3")
    t = IcebergTable.create(
        loc,
        "url string, warc_ts timestamp, html binary, text string, lang string",
        partition_by=["bucket(2, url)"],
    )
    t.append(spark, pages_df(spark, "tiny"))
    out = str(tmp_path / "ix")
    index_iceberg(spark, loc, out, n_shards=2, block_size=8)
    t.append(spark, _batch2(spark))
    s1 = t.snapshots()[0]["sequence-number"]
    assert t.read_incremental(spark, s1).count() == 4
    meta = index_iceberg_delta(spark, loc, out, n_shards=2, block_size=8)
    assert meta["n_docs"] == 4


def test_column_stats_pruning(spark, tmp_path):
    """File-level lower/upper bounds land in the manifests and min/max
    pruning drops provably-excluded files — range scans on UNPARTITIONED
    columns plan only their slice; files lacking stats survive."""
    import datetime as dt

    loc = str(tmp_path / "spages")
    t = IcebergTable.create(
        loc, "event_id bigint, ts timestamp, v double, s string"
    )
    # three commits with DISJOINT event_id / ts ranges -> 3+ files with
    # disjoint bounds
    for c in range(3):
        rows = [
            (
                c * 100 + i,
                dt.datetime(2024, 1, 1 + c, 6 + i, 0, 0),
                float(c * 100 + i),
                f"s{c:02d}{i:02d}",
            )
            for i in range(10)
        ]
        t.append(spark, spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, v double, s string"
        ).coalesce(1))

    files = t.data_files()
    assert len(files) == 3
    for f in files:
        assert set(f["lower_bounds"]) >= {1, 2, 3, 4}  # all four field-ids

    # long range: only commit 1's file overlaps 100 <= event_id
    hit = t.data_files(stats_filter={"event_id": (">=", 200)})
    assert len(hit) == 1
    rows = t.read(spark, stats_filter={"event_id": (">=", 200)})
    # file-level pruning + residual row filter = exact
    assert rows.filter(F.col("event_id") >= 200).count() == 10
    assert rows.count() == 10  # disjoint ranges: the file slice IS exact here

    # timestamp range with a datetime literal
    cut = dt.datetime(2024, 1, 3, tzinfo=dt.timezone.utc)
    late = t.data_files(stats_filter={"ts": (">=", cut)})
    assert len(late) == 1

    # string equality: bounds are utf-8 — only the middle file can hold it
    mid = t.data_files(stats_filter={"s": "s0105"})
    assert len(mid) == 1

    # point lookups outside every range prune to zero files
    assert t.data_files(stats_filter={"event_id": 99999}) == []

    # double range op
    assert len(t.data_files(stats_filter={"v": ("<", 100.0)})) == 1

    # != prunes only all-constant files: nothing here
    assert len(t.data_files(stats_filter={"event_id": ("!=", 5)})) == 3


def test_warc_to_iceberg_to_ranked_query_end_to_end(spark, tmp_path):
    """The complete pipeline, crawl bytes to ranked results: WARC shards
    -> partitioned Iceberg corpus (day + url bucket) -> snapshot-pinned
    index build -> BM25 queries; a second crawl batch -> second snapshot
    -> delta segment; day partition pruning holds on the corpus table."""
    from blacklab_spark import warc as W
    from blacklab_spark.iceberg import (
        follow_iceberg,
        ingest_warc_to_iceberg,
    )
    from blacklab_spark.query import Index

    shards = tmp_path / "crawl1"
    shards.mkdir()
    for sh in range(2):
        docs = [
            {
                "url": f"http://e2e.test/{sh}/{i}",
                "date": f"2021-03-0{1 + i % 2}T0{i}:00:00Z",
                "html": f"<html><body><p>zebra stripe {'common ' * (i + 1)}"
                        f"doc{sh}{i}</p></body></html>",
            }
            for i in range(4)
        ]
        (shards / f"s{sh}.warc.gz").write_bytes(W.build_warc(docs, gz=True))

    loc = str(tmp_path / "corpus")
    snap1 = ingest_warc_to_iceberg(spark, str(shards / "*.warc.gz"), loc)
    t = IcebergTable(loc)
    assert t.current_snapshot_id() == snap1
    assert [f["transform"] for f in t.partition_spec] == ["day", "bucket[16]"]
    assert t.read(spark).count() == 8

    # day pruning on the corpus: March 1 2021 = epoch day 18687
    d1 = t.partition_value("warc_ts_day", __import__("datetime").datetime(
        2021, 3, 1, tzinfo=__import__("datetime").timezone.utc))
    assert t.read(spark, partition_filter={"warc_ts_day": d1}).count() == 4

    out = str(tmp_path / "ix")
    index_iceberg(spark, loc, out, n_shards=2, block_size=8)
    ix = Index(spark, out)
    assert ix.term_hits("zebra").count() == 8
    top = ix.topk(["common"], k=3).collect()
    assert len(top) == 3  # the repeated-term docs rank
    assert all(r.score > 0 for r in top)

    # second crawl batch -> new snapshot -> one delta segment
    crawl2 = tmp_path / "crawl2"
    crawl2.mkdir()
    (crawl2 / "s0.warc.gz").write_bytes(W.build_warc([
        {"url": "http://e2e.test/new", "date": "2021-03-03T00:00:00Z",
         "html": "<html><body><p>zebra freshdoc</p></body></html>"},
    ], gz=True))
    snap2 = ingest_warc_to_iceberg(spark, str(crawl2 / "*.warc.gz"), loc)
    assert snap2 != snap1
    metas = follow_iceberg(spark, loc, out, n_shards=2, block_size=8)
    assert len(metas) == 1 and metas[0]["n_docs"] == 1
    ix = Index(spark, out)
    assert ix.term_hits("zebra").count() == 9
    assert ix.term_hits("freshdoc").count() == 1


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution: old data files stay untouched; reads fill
    NULL for pre-evolution rows; new appends carry the column; stats and
    partition resolution keep working (source field-ids are stable)."""
    loc = str(tmp_path / "evo")
    t = IcebergTable.create(
        loc, "url string, text string", partition_by=["bucket(2, url)"]
    )
    t.append(spark, spark.createDataFrame(
        [("http://a/1", "old row")], "url string, text string"
    ))
    t.add_column("lang", "string")
    assert t.metadata["current-schema-id"] == 1
    assert t.metadata["last-column-id"] == 3
    t.append(spark, spark.createDataFrame(
        [("http://a/2", "new row", "nl")], "url string, text string, lang string"
    ))
    got = {r.url: r.lang for r in t.read(spark).collect()}
    assert got == {"http://a/1": None, "http://a/2": "nl"}
    # stats pruning on the evolved column: only the new file has bounds
    hit = t.data_files(stats_filter={"lang": "nl"})
    assert len(hit) == 2  # old file has no lang stats -> must survive
    with pytest.raises(ValueError):
        t.add_column("lang", "string")


def test_expire_snapshots(spark, tmp_path):
    """Expiry drops old snapshots + their manifest-list files; current
    reads and incremental reads from RETAINED snapshots still work."""
    import os as _os

    loc = str(tmp_path / "exp")
    t = IcebergTable.create(loc, "url string, text string")
    for i in range(3):
        t.append(spark, spark.createDataFrame(
            [(f"http://e/{i}", f"row {i}")], "url string, text string"
        ))
    s1, s2, s3 = t.snapshots()
    old_list = s1["manifest-list"][len("file://"):]
    assert _os.path.exists(old_list)
    expired = t.expire_snapshots(keep_last=2)
    assert expired == [s1["snapshot-id"]]
    assert not _os.path.exists(old_list)
    assert [s["snapshot-id"] for s in t.snapshots()] == [
        s2["snapshot-id"], s3["snapshot-id"],
    ]
    # data intact; retained time travel + incremental still work
    assert t.read(spark).count() == 3
    assert t.read(spark, snapshot_id=s2["snapshot-id"]).count() == 2
    assert t.read_incremental(spark, s2["sequence-number"]).count() == 1
    with pytest.raises(KeyError):
        t.read(spark, snapshot_id=s1["snapshot-id"])
    assert t.expire_snapshots(keep_last=2) == []


def test_concurrent_commit_cas_retry(spark, tmp_path):
    """Two writers racing one commit: the version file is put-if-absent
    (the catalog-CAS analog), so the loser refreshes and re-commits on top of
    the winner — both snapshots land, no rows lost, sequence numbers
    strictly increase."""
    import threading

    loc = str(tmp_path / "race")
    IcebergTable.create(loc, "url string, text string")
    errs = []

    def writer(tag):
        try:
            t = IcebergTable(loc)
            t.append(spark, spark.createDataFrame(
                [(f"http://{tag}/{i}", f"{tag} {i}") for i in range(3)],
                "url string, text string",
            ))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    t = IcebergTable(loc)
    snaps = t.snapshots()
    assert len(snaps) == 2
    assert [s["sequence-number"] for s in snaps] == [1, 2]
    assert snaps[1]["parent-snapshot-id"] == snaps[0]["snapshot-id"]
    assert t.read(spark).count() == 6
    # the incremental scan sees exactly the second commit's rows
    assert t.read_incremental(spark, snaps[0]["sequence-number"]).count() == 3


def test_remove_orphan_files(spark, tmp_path):
    """Orphans (lost CAS races, failed commits) older than the sweep's
    minimum age are swept; everything a retained snapshot references, and
    a fresh file an append has written but not yet committed, survives."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = str(tmp_path / "orph")
    t = IcebergTable.create(loc, "url string, text string")
    for i in range(2):
        t.append(spark, spark.createDataFrame(
            [(f"http://o/{i}", f"row {i}")], "url string, text string"
        ))
    # plant orphans shaped like lost-race leftovers
    meta = _os.path.join(loc, "metadata")
    orphan_list = _os.path.join(meta, "snap-999-1-deadbeef.avro")
    orphan_man = _os.path.join(meta, "m9-deadbeef.avro")
    open(orphan_list, "wb").write(b"junk")
    open(orphan_man, "wb").write(b"junk")
    dead_dir = _os.path.join(loc, "data", "deadcommit")
    _os.makedirs(dead_dir)
    orphan_dat = _os.path.join(dead_dir, "part-00000-dead.parquet")
    open(orphan_dat, "wb").write(b"junk")
    old = time.time() - 4 * 24 * 3600
    for p in (orphan_list, orphan_man, orphan_dat):
        _os.utime(p, (old, old))
    # an append in flight: data written, commit not yet made
    inflight = _os.path.join(loc, "data", "0123abcd", "part-00000-new.parquet")
    _os.makedirs(_os.path.dirname(inflight))
    pq.write_table(pa.table({"url": ["http://o/2"], "text": ["row 2"]}), inflight)

    before = t.read(spark).count()
    deleted = t.remove_orphan_files()
    assert {_os.path.basename(p) for p in deleted} == {
        "snap-999-1-deadbeef.avro", "m9-deadbeef.avro", "part-00000-dead.parquet",
    }
    assert not _os.path.exists(orphan_dat) and not _os.path.exists(dead_dir)
    assert _os.path.exists(inflight)
    assert t.read(spark).count() == before == 2
    assert t.remove_orphan_files() == []
    t.commit_append([inflight])
    assert t.read(spark).count() == 3
    # retained time travel still works after the sweep
    s1 = t.snapshots()[0]
    assert t.read(spark, snapshot_id=s1["snapshot-id"]).count() == 1


def test_sort_order_gives_disjoint_bounds(spark, tmp_path):
    """Range-distributed sorted writes: per-file bounds on the sort column
    become disjoint, so a stats point lookup keeps exactly one file (an
    unsorted shuffled write overlaps on most files)."""
    loc = str(tmp_path / "sorted")
    t = IcebergTable.create(loc, "event_id bigint, text string")
    t.set_sort_order(["event_id"])
    assert t.metadata["default-sort-order-id"] == 1
    rows = [(int(i * 7919 % 400), f"r{i}") for i in range(400)]  # shuffled ids
    t.append(spark, spark.createDataFrame(
        rows, "event_id bigint, text string"
    ).repartition(8), range_partitions=4)
    files = t.data_files()
    assert len(files) == 4
    # disjoint, ordered ranges across files
    from blacklab_spark.iceberg import _bound_value

    ranges = sorted(
        (_bound_value(f["lower_bounds"][1], "long"),
         _bound_value(f["upper_bounds"][1], "long"))
        for f in files
    )
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 < l2
    # point lookup plans exactly one file
    assert len(t.data_files(stats_filter={"event_id": 123})) == 1

    rows_df = t.read(spark, stats_filter={"event_id": 123})
    assert rows_df.filter(F.col("event_id") == 123).count() == sum(
        1 for v, _ in rows if v == 123
    )


def test_history_and_files_metadata_tables(spark, table):
    h = table.history()
    assert len(h) == 2 and h[-1]["is_current"] and not h[0]["is_current"]
    assert h[1]["parent_id"] == h[0]["snapshot_id"]
    f = table.files(spark)
    assert f.count() == len(table.data_files())
    assert f.columns == [
        "file_path", "record_count", "file_size_in_bytes",
        "sequence_number", "partition",
    ]
    assert f.agg(F.sum("record_count")).collect()[0][0] == 10


def test_transform_col_matches_python_transform(spark, tmp_path):
    """The Spark write-path column transforms and the python point-lookup
    transforms are independent implementations — one batch cross-check
    over adversarial values (negatives, unicode, empty, None, dates before
    and after the epoch) keeps them from drifting apart."""
    import datetime as dt

    from blacklab_spark.iceberg import apply_transform

    rows = []
    for i in range(150):
        s = ["", "a", "héllo wörld", "x" * 50, f"http://t/{i*37}"][i % 5] + str(i)
        n = (i - 75) * 977
        ts = dt.datetime(1969, 12, 28, tzinfo=dt.timezone.utc) + dt.timedelta(
            hours=i * 13, minutes=i
        )
        rows.append((s, n, ts, dt.date(1969, 11, 1) + dt.timedelta(days=i * 3)))
    df = spark.createDataFrame(rows, "s string, n bigint, ts timestamp, d date")

    t = IcebergTable.create(
        str(tmp_path / "x"),
        "s string, n bigint, ts timestamp, d date",
        partition_by=["bucket(7, s)", "bucket(5, n)", "day(ts)",
                      "truncate(3, s)", "truncate(100, n)", "day(d)", "bucket(3, d)"],
    )
    spec = t._spec_parts()
    out = df.select(
        "s", "n", "ts", "d",
        *[t._transform_col(sp).alias(f"c{j}") for j, sp in enumerate(spec)],
    ).collect()
    for r in out:
        raw = {"s": r.s, "n": r.n, "ts": r.ts.replace(tzinfo=dt.timezone.utc), "d": r.d}
        for j, sp in enumerate(spec):
            expect = apply_transform(sp["transform"], sp["param"], raw[sp["src"]], sp["src_type"])
            assert r[f"c{j}"] == expect, (sp, raw[sp["src"]], r[f"c{j}"], expect)

    # a date-partitioned table commits (date column bounds) and prunes by
    # a raw date on the python side
    t = IcebergTable.create(str(tmp_path / "d"), "k bigint, d date", partition_by=["day(d)"])
    t.append(spark, spark.createDataFrame(
        [(1, dt.date(2020, 1, 2)), (2, dt.date(2020, 1, 2)), (3, dt.date(2020, 1, 5))],
        "k bigint, d date",
    ))
    day = t.partition_value("d_day", dt.date(2020, 1, 2))
    assert day == 18263
    assert sorted(r.k for r in t.read(spark, partition_filter={"d_day": day}).collect()) == [1, 2]
    assert t.data_files(stats_filter={"d": dt.date(2020, 1, 2)}) == t.data_files(
        partition_filter={"d_day": day}
    )


# ---------------------------------------------------------------------------
# commits without Spark: appends via commit_append over pyarrow-written
# files, so the race tests and the state machine run in milliseconds


def _pq_file(loc, name, n):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(loc, "data", f"{name}.parquet")
    pq.write_table(pa.table({"k": list(range(n)), "v": [f"x{i}" for i in range(n)]}), p)
    return p


@contextlib.contextmanager
def _interleaved(competitor):
    """Run `competitor()` (a whole commit through a second handle) just
    before the next metadata version write: between the writer's load and
    its put-if-absent publish. Yields a dict that receives competitor's result."""
    orig = IcebergTable.__dict__["_write_metadata"]
    write = IcebergTable._write_metadata
    got = {}

    def racing(meta_dir, version, md):
        if "result" not in got:
            got["result"] = None  # the competitor's own write goes through
            got["result"] = competitor()
        write(meta_dir, version, md)

    IcebergTable._write_metadata = staticmethod(racing)
    try:
        yield got
    finally:
        IcebergTable._write_metadata = orig


@pytest.mark.parametrize(
    "op", ["commit_append", "tag", "set_sort_order", "add_column", "expire_snapshots"]
)
def test_commit_lands_on_top_of_interleaved_append(tmp_path, op):
    """Every metadata operation that loses the version race to another
    handle's append re-applies its change on top of the winner: both
    changes are in the final metadata, no snapshot lost or duplicated."""
    loc = str(tmp_path / "t")
    t = IcebergTable.create(loc, "k bigint, v string")
    s1 = t.commit_append([_pq_file(loc, "a", 2)])
    s2 = t.commit_append([_pq_file(loc, "b", 3)])
    other = IcebergTable(loc)
    late, mine = _pq_file(loc, "c", 4), _pq_file(loc, "d", 5)
    with _interleaved(lambda: other.commit_append([late])) as race:
        if op == "commit_append":
            result = t.commit_append([mine])
        elif op == "tag":
            result = t.tag("v1", s1)
        elif op == "set_sort_order":
            result = t.set_sort_order(["k"])
        elif op == "add_column":
            result = t.add_column("w", "string")
        else:
            result = t.expire_snapshots(keep_last=1)
    s3 = race["result"]
    md = IcebergTable(loc).metadata
    assert t.metadata == md  # the writer's view is what it committed
    ids = [s["snapshot-id"] for s in md["snapshots"]]
    if op == "commit_append":
        assert ids == [s1, s2, s3, result]
        assert [s["sequence-number"] for s in md["snapshots"]] == [1, 2, 3, 4]
        assert md["snapshots"][-1]["parent-snapshot-id"] == s3
        assert sum(f["record_count"] for f in t.data_files()) == 2 + 3 + 4 + 5
    elif op == "expire_snapshots":
        assert result == [s1, s2] and ids == [s3]
        assert sum(f["record_count"] for f in t.data_files()) == 2 + 3 + 4
    else:
        assert ids == [s1, s2, s3]
        assert sum(f["record_count"] for f in t.data_files()) == 2 + 3 + 4
    assert md["refs"]["main"]["snapshot-id"] == md["current-snapshot-id"] == ids[-1]
    if op == "tag":
        assert md["refs"]["v1"] == {"snapshot-id": s1, "type": "tag"}
    if op == "set_sort_order":
        assert md["default-sort-order-id"] == 1 and t._sort_columns() == ["k"]
    if op == "add_column":
        assert [f["name"] for f in md["schemas"][md["current-schema-id"]]["fields"]] == [
            "k", "v", "w",
        ]


def _columns(md):
    return [f["name"] for f in md["schemas"][md["current-schema-id"]]["fields"]]


def test_crash_mid_version_write_leaves_no_version(tmp_path, monkeypatch):
    """A writer that fails while writing v{N+1} leaves no v{N+1} (and no
    temp file), so the next commit takes that version instead of finding a
    truncated file in its way on every attempt."""
    import os

    loc = str(tmp_path / "t")
    IcebergTable.create(loc, "k bigint, v string")
    t = IcebergTable(loc)

    def partial_dump(obj, f, **kw):
        f.write(json.dumps(obj)[:7])
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", partial_dump)
    with pytest.raises(OSError):
        t.add_column("w", "string")
    monkeypatch.undo()
    meta = os.path.join(loc, "metadata")
    assert sorted(os.listdir(meta)) == ["v1.metadata.json", "version-hint.text"]
    t.add_column("w", "string")
    assert t._version == 2 and IcebergTable(loc)._version == 2
    assert _columns(t.metadata) == ["k", "v", "w"]


def test_stale_hint_reads_newest_version(tmp_path, monkeypatch):
    """A writer that dies after publishing v{N+1} but before rewriting the
    hint leaves the hint at N: readers see v{N+1}, and the next commit
    lands at N+2 instead of retrying v{N+1} until contention."""
    import os

    from blacklab_spark import iceberg as I

    loc = str(tmp_path / "t")
    IcebergTable.create(loc, "k bigint, v string")
    t = IcebergTable(loc)
    s1 = t.commit_append([_pq_file(loc, "a", 2)])  # v2

    def crash(path, obj):
        raise OSError("crash before the hint")

    monkeypatch.setattr(I, "_write_json", crash)
    with pytest.raises(OSError):
        t.add_column("w", "string")  # v3 published, hint still 2
    monkeypatch.undo()
    meta = os.path.join(loc, "metadata")
    assert open(os.path.join(meta, "version-hint.text")).read().strip() == "2"
    fresh = IcebergTable(loc)
    assert fresh._version == 3
    assert _columns(fresh.metadata) == ["k", "v", "w"]
    s2 = fresh.commit_append([_pq_file(loc, "b", 3)])
    assert fresh._version == 4 and os.path.exists(os.path.join(meta, "v4.metadata.json"))
    assert [s["snapshot-id"] for s in IcebergTable(loc).snapshots()] == [s1, s2]


def test_watermark_survives_crash_mid_write(tmp_path, monkeypatch):
    """A crash while a sidecar is being rewritten leaves the previous
    content readable (temp file + os.replace), not a truncated file that
    every later index_iceberg_delta would fail to parse."""
    import os

    from blacklab_spark.iceberg import _save_watermark

    out = str(tmp_path)
    first = {"location": "/t", "snapshot_id": 11, "sequence_number": 1}
    _save_watermark(out, first)

    def partial_dump(obj, f, **kw):
        f.write(json.dumps(obj)[:7])
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", partial_dump)
    with pytest.raises(OSError):
        _save_watermark(out, {"location": "/t", "snapshot_id": 22, "sequence_number": 2})
    monkeypatch.undo()
    assert json.load(open(os.path.join(out, "iceberg_watermark.json"))) == first
    assert os.listdir(out) == ["iceberg_watermark.json"]  # no temp file left


# ---------------------------------------------------------------------------
# model-based stateful fuzz

from hypothesis import settings as _settings  # noqa: E402
from hypothesis.stateful import (  # noqa: E402
    Bundle,
    RuleBasedStateMachine,
    initialize,
    multiple,
    precondition,
    rule,
)


class IcebergModel(RuleBasedStateMachine):
    """Random append / tag / expire / orphan-sweep sequences, and appends
    and tags that race a second handle's append, against a python model: at every step,
    every retained snapshot's planned file set must carry exactly the
    rows the model says were visible at that commit, expiry must drop
    exactly the untagged snapshots the model predicts, and the refs must
    match the model's tags."""

    snapshots = Bundle("snapshots")

    @initialize()
    def setup(self):
        import tempfile

        self.dir = tempfile.mkdtemp(prefix="ice_model_")
        self.t = IcebergTable.create(self.dir, "k bigint, v string")
        self.model: dict[int, int] = {}  # snapshot_id -> visible row count
        self.order: list[int] = []  # retained snapshot ids, oldest first
        self.tags: dict[str, int] = {}
        self.total = 0
        self.counter = 0

    def _append(self, table, n):
        self.counter += 1
        sid = table.commit_append([_pq_file(self.dir, f"f{self.counter}", n)])
        self.total += n
        self.model[sid] = self.total
        self.order.append(sid)
        return sid

    @rule(target=snapshots, n=st.integers(0, 40))
    def append(self, n):
        return self._append(self.t, n)

    @rule(target=snapshots, n=st.integers(0, 40), m=st.integers(0, 40))
    def interleaved_append(self, n, m):
        """A second handle appends m rows between this handle's load and
        its version write: this handle's append lands on top of it."""
        other = IcebergTable(self.dir)
        with _interleaved(lambda: self._append(other, m)) as race:
            mine = self._append(self.t, n)
        return multiple(race["result"], mine)

    @precondition(lambda self: self.order)
    @rule(target=snapshots, m=st.integers(0, 40), name=st.sampled_from(["a", "b"]))
    def interleaved_tag(self, m, name):
        """The same race under tag(): the current snapshot is resolved at
        commit time, so the tag pins the competitor's snapshot."""
        other = IcebergTable(self.dir)
        with _interleaved(lambda: self._append(other, m)) as race:
            self.t.tag(name)
        self.tags[name] = race["result"]
        return race["result"]

    @rule(sid=snapshots, name=st.sampled_from(["a", "b"]))
    def tag(self, sid, name):
        if sid not in self.model:  # expired: nothing to pin
            with pytest.raises(KeyError):
                self.t.tag(name, sid)
            return
        self.t.tag(name, sid)
        self.tags[name] = sid

    @rule(keep=st.integers(1, 3))
    def expire(self, keep):
        pinned = set(self.tags.values())
        want = [s for s in self.order[:-keep] if s not in pinned]
        assert self.t.expire_snapshots(keep_last=keep) == want
        for sid in want:
            self.model.pop(sid)
            self.order.remove(sid)

    @rule()
    def sweep(self):
        import os

        old = time.time() - 4 * 24 * 3600  # past the sweep's minimum age
        for root, _dirs, files in os.walk(self.dir):
            for fn in files:
                os.utime(os.path.join(root, fn), (old, old))
        self.t.remove_orphan_files()

    @rule(sid=snapshots)
    def check(self, sid):
        import pyarrow.parquet as pq

        refs = IcebergTable(self.dir).metadata["refs"]
        assert {k: r["snapshot-id"] for k, r in refs.items() if r["type"] == "tag"} \
            == self.tags
        assert refs.get("main", {}).get("snapshot-id") == (
            self.order[-1] if self.order else None
        )
        if sid not in self.model:  # expired: must raise, not misread
            with pytest.raises(KeyError):
                self.t.data_files(sid)
            return
        files = self.t.data_files(sid)
        assert sum(f["record_count"] for f in files) == self.model[sid]
        assert sum(pq.ParquetFile(f["path"]).metadata.num_rows for f in files) \
            == self.model[sid]

    def teardown(self):
        import shutil

        shutil.rmtree(self.dir, ignore_errors=True)


IcebergModel.TestCase.settings = _settings(
    max_examples=30, stateful_step_count=20, deadline=None, derandomize=True
)
TestIcebergModel = IcebergModel.TestCase


def test_tags_and_ref_reads(spark, tmp_path):
    """Named tag refs: read by ref, tags survive snapshot expiry, main
    branch ref tracks the head."""
    loc = str(tmp_path / "tagd")
    t = IcebergTable.create(loc, "url string, text string")
    for i in range(3):
        t.append(spark, spark.createDataFrame(
            [(f"http://t/{i}", f"row {i}")], "url string, text string"
        ))
    s1, s2, s3 = [s["snapshot-id"] for s in t.snapshots()]
    t.tag("crawl-2021", s1)
    assert t.ref_snapshot_id("crawl-2021") == s1
    assert t.ref_snapshot_id("main") == s3
    assert t.read(spark, ref="crawl-2021").count() == 1
    assert t.read(spark, ref="main").count() == 3

    # expiry keeps the tagged snapshot, drops the untagged middle one
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [s2]
    assert {s["snapshot-id"] for s in t.snapshots()} == {s1, s3}
    assert t.read(spark, ref="crawl-2021").count() == 1
    with pytest.raises(KeyError):
        t.read(spark, ref="nope")
    with pytest.raises(ValueError):
        t.read(spark, ref="crawl-2021", snapshot_id=s3)
    with pytest.raises(ValueError):
        t.tag("main")


def test_append_keeps_tags_through_expiry(spark, tmp_path):
    """An append merges the refs map instead of replacing it: a tag made
    before the append still pins its snapshot through expire_snapshots."""
    loc = str(tmp_path / "tag_append")
    t = IcebergTable.create(loc, "url string, text string")
    t.append(spark, spark.createDataFrame([("http://t/0", "row 0")], "url string, text string"))
    s1 = t.snapshots()[0]["snapshot-id"]
    t.tag("v1", s1)
    t.append(spark, spark.createDataFrame([("http://t/1", "row 1")], "url string, text string"))
    t.expire_snapshots(keep_last=1)
    assert t.ref_snapshot_id("v1") == s1
    assert s1 in {s["snapshot-id"] for s in t.snapshots()}
    assert t.read(spark, ref="v1").count() == 1
    assert t.read(spark, ref="main").count() == 2
