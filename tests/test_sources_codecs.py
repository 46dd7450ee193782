"""binaryFile source and the gzip, JSON and XML codec helpers."""

from __future__ import annotations

import gzip

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gobulk_spark.functions import codecs
from gobulk_spark.functions.imaging import encode_png, synth_image
from gobulk_spark.sources.binaryfiles import read_binary_dir


@pytest.fixture(scope="module")
def file_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("blobs")
    for i in range(6):
        img = synth_image(i, 24 + 8 * i, 24)
        (d / f"img-{i:04d}.png").write_bytes(encode_png(img))
    (d / "notes.txt").write_bytes(b"not an image")
    return str(d)


def test_binaryfile_source_glob_and_pushdown(spark, file_dir):
    df = read_binary_dir(spark, file_dir, glob="*.png")
    rows = df.orderBy("image_id").collect()
    # collision-free id: the scheme-stripped path (gobulk's container
    # key); the friendly stem rides along separately
    assert [r.file_stem for r in rows] == [f"img-{i:04d}" for i in range(6)]
    assert all(r.image_id.endswith(f"img-{i:04d}.png") for i, r in enumerate(rows))
    assert not rows[0].image_id.startswith("file:")
    assert len({r.image_id for r in rows}) == 6
    assert all(r.bytes.startswith(b"\x89PNG") for r in rows)
    # length predicate reaches the scan (binaryFile supports length pushdown)
    small = read_binary_dir(spark, file_dir, glob="*.png", max_bytes=2200)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "length" in plan.lower()


def test_binaryfile_modify_scan_hook(spark, file_dir):
    df = read_binary_dir(
        spark,
        file_dir,
        glob="*.png",
        modify_scan=lambda d: d.where(F.col("path").contains("0003")),
    )
    assert df.count() == 1


def test_gunzip_series():
    blobs = pd.Series([gzip.compress(b"hello"), b"garbage", None])
    out = codecs.gunzip_series(blobs)
    assert out[0] == b"hello" and out[1] is None and out[2] is None


def test_parse_json_captions(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"raw": ['{"title":"t1","content":"c1"}', "not json"]})
    )
    got = df.select(codecs.parse_json_captions(F.col("raw")).alias("doc")).collect()
    assert got[0].doc.title == "t1" and got[0].doc.content == "c1"
    assert got[1].doc is None or got[1].doc.title is None


def test_expand_entities():
    s = pd.Series(["a &amp; b &custom; &unknown;"])
    out = codecs.expand_entities(s, {"amp": "&", "custom": "X"})
    assert out[0] == "a & b X &unknown;"


def test_decode_xml_entity_merge_and_charset(spark):
    """Full DecodeXML parity (utils/parse.go:13-78): internal DOCTYPE
    entities override external (MergeEntities order), charset honored
    from the declaration, fields flattened through the Spark surface."""
    internal = (
        b'<?xml version="1.0"?><!DOCTYPE d [<!ENTITY who "World">]>'
        b"<doc><greet>Hello &who;</greet><n>&num;</n></doc>"
    )
    latin = '<?xml version="1.0" encoding="latin-1"?><doc><name>café</name></doc>'.encode("latin-1")
    # a utf-16 document's OWN declaration is not ASCII-readable: the
    # charset must come from the BOM (found live during verification)
    utf16 = '<?xml version="1.0" encoding="utf-16"?><doc><name>héllo</name></doc>'.encode("utf-16")
    pdf = pd.DataFrame(
        {"doc_id": ["ents", "latin", "utf16"], "bytes": [internal, latin, utf16]}
    )
    ext = {"who": "External", "num": "42"}
    out = (
        spark.createDataFrame(pdf)
        .mapInPandas(
            lambda it: (codecs.decode_xml_batch(p, ext) for p in it),
            schema=codecs.XML_DOC_SCHEMA,
        )
        .toPandas()
        .set_index("doc_id")
    )
    e = out.loc["ents"]
    assert e.decode_ok and e.root == "doc"
    assert e.fields["greet"] == "Hello World"  # internal beats external
    assert e.fields["n"] == "42"  # external fills the gap
    l = out.loc["latin"]
    assert l.decode_ok and l.fields["name"] == "café"
    u = out.loc["utf16"]
    assert u.decode_ok and u.fields["name"] == "héllo"


def test_decode_xml_strict_vs_lenient():
    unknown = b"<doc><x>&nosuch;</x></doc>"
    malformed = b"<doc><unclosed></doc>"
    bad_charset = '<?xml version="1.0" encoding="latin-1"?><doc><x>ok</x></doc>'.encode("latin-1")
    pdf = pd.DataFrame(
        {"doc_id": ["unk", "mal"], "bytes": [unknown, malformed]}
    )
    strict = codecs.decode_xml_batch(pdf, strict=True).set_index("doc_id")
    assert not strict.loc["unk"].decode_ok  # unknown entity = error (Go Strict)
    assert not strict.loc["mal"].decode_ok
    lenient = codecs.decode_xml_batch(pdf, strict=False).set_index("doc_id")
    assert lenient.loc["unk"].decode_ok  # unknown entity stripped
    assert lenient.loc["unk"].fields["x"] == ""
    assert not lenient.loc["mal"].decode_ok  # markup errors stay errors
    # strict decode of a undecodable-in-utf8 byte stream only works via
    # the declared charset (WithCharsetReader analogue)
    one = codecs.decode_xml_batch(
        pd.DataFrame({"doc_id": ["c"], "bytes": [bad_charset]}), strict=True
    )
    assert one.iloc[0].decode_ok


def test_merge_entities_order():
    assert codecs.merge_entities({"a": "1", "b": "2"}, {"b": "3"}, None) == {
        "a": "1",
        "b": "3",
    }


def test_lenient_xml_preserves_predefined_entities():
    """strict=False strips UNKNOWN entities only — the five predefined
    XML entities are expanded by the parser and must survive."""
    doc = b"<doc><x>1 &lt; 2 &amp; 3 &nosuch; ok</x></doc>"
    out = codecs.decode_xml_batch(
        pd.DataFrame({"doc_id": ["d"], "bytes": [doc]}), strict=False
    )
    r = out.iloc[0]
    assert r.decode_ok
    assert r.fields["x"] == "1 < 2 & 3  ok"  # predefined kept, unknown gone
