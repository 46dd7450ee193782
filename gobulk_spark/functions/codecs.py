"""Payload codec helpers (gobulk utils analogues).

gobulk ships Gunzip (utils/zip.go:10-18) and DecodeXML with entity
expansion (utils/parse.go:13-78) as library scalar helpers for user
Parse stages; JSON parsing appears in its test formats
(runner_test.go:622-635). Here:

- gunzip_series: vectorized gzip decode for binary columns (pandas core
  used inside mapInPandas stages);
- json_caption_schema / parse_json_captions: JVM-side from_json for
  structured caption payloads (F3);
- xml-style entity expansion: expand_entities (F2's regex-rewrite core).
"""

from __future__ import annotations

import gzip
import re
import zlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- gzip (F1)


def gunzip_series(blobs: pd.Series) -> pd.Series:
    """Vectorized-by-batch gzip decode; invalid payloads -> None."""

    def _one(b):
        if b is None:
            return None
        try:
            return gzip.decompress(b)
        except (OSError, zlib.error, EOFError):
            return None

    return blobs.map(_one)


# ------------------------------------------------------------- JSON (F3)

JSON_CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def parse_json_captions(col: Column) -> Column:
    """JVM-side from_json of the gobulk test-format document
    {"title","content"} (runner_test.go:33)."""
    return F.from_json(col, JSON_CAPTION_SCHEMA)


# ------------------------------------------------- XML decode (F2, full)

_ENTITY_RE = re.compile(r"&([A-Za-z][A-Za-z0-9._-]*);")
# mirrors gobulk's internalEntitiesRegex (utils/parse.go:88):
# <!ENTITY name ... "value" ...>
_INTERNAL_ENTITY_RE = re.compile(r'<!ENTITY (\S*)[^"]*"(.*)".*>')
_XML_DECL_ENCODING_RE = re.compile(
    rb'<\?xml[^>]*encoding\s*=\s*["\']([A-Za-z0-9._-]+)["\']'
)


def expand_entities(texts: pd.Series, entities: dict[str, str]) -> pd.Series:
    """Expand &name; entities from a user-supplied table (the core of
    gobulk's DecodeXML DOCTYPE handling, utils/parse.go:21-77)."""
    return texts.str.replace(
        _ENTITY_RE, lambda m: entities.get(m.group(1), m.group(0)), regex=True
    )


def merge_entities(*entity_lists: dict[str, str] | None) -> dict[str, str]:
    """Merge entity maps, later maps winning on conflict — gobulk
    MergeEntities (utils/parse.go:41-56)."""
    out: dict[str, str] = {}
    for lst in entity_lists:
        if lst:
            out.update(lst)
    return out


def internal_entities(text: str) -> dict[str, str]:
    """DOCTYPE-declared entities, gobulk getInternalEntities
    (utils/parse.go:69-78) — same regex, same capture semantics."""
    return {m.group(1): m.group(2) for m in _INTERNAL_ENTITY_RE.finditer(text)}


def decode_xml_text(
    blob: bytes,
    external_entities: dict[str, str] | None = None,
    strict: bool = True,
) -> str:
    """Charset-aware decode + entity expansion: the pre-parse pass of
    gobulk DecodeXML (utils/parse.go:13-19 + WithCharsetReader).

    Charset comes from the XML declaration (default utf-8). Internal
    DOCTYPE entities override external ones (MergeEntities order).
    strict=False replaces undecodable bytes instead of raising —
    Go's Strict=false lenient mode.
    """
    # BOM first: a UTF-16/32 document's OWN encoding declaration is not
    # ASCII-readable, so the regex below can never see it (found live
    # on a utf-16 file). Python's utf-16/utf-8-sig codecs strip the BOM.
    if blob[:4] in (b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff"):
        encoding = "utf-32"
    elif blob[:2] in (b"\xff\xfe", b"\xfe\xff"):
        encoding = "utf-16"
    elif blob[:3] == b"\xef\xbb\xbf":
        encoding = "utf-8-sig"
    else:
        m = _XML_DECL_ENCODING_RE.search(blob[:256])
        encoding = m.group(1).decode("ascii") if m else "utf-8"
    text = blob.decode(encoding, errors="strict" if strict else "replace")
    ents = merge_entities(external_entities, internal_entities(text))
    return _ENTITY_RE.sub(lambda mm: ents.get(mm.group(1), mm.group(0)), text)


XML_DOC_SCHEMA = (
    "doc_id string, root string, fields map<string,string>, "
    "decode_ok boolean, issue_note string"
)


def decode_xml_batch(
    pdf: pd.DataFrame,
    external_entities: dict[str, str] | None = None,
    strict: bool = True,
) -> pd.DataFrame:
    """One Arrow batch (doc_id, bytes) -> XML_DOC_SCHEMA rows.

    Full DecodeXML analogue: charset, entity merge/replace, then an
    ElementTree parse flattening root children into a map column. In
    strict mode any malformed document (bad charset, bad markup,
    UNKNOWN entity surviving expansion) becomes decode_ok=False with
    the parser's message; lenient mode additionally replaces
    undecodable bytes and strips unknown entities before the parse.
    Per-row failures route as issue rows, never task failures.
    """
    import xml.etree.ElementTree as ET

    rows = []
    for doc_id, blob in zip(pdf["doc_id"], pdf["bytes"]):
        row = {"doc_id": doc_id, "root": None, "fields": None,
               "decode_ok": False, "issue_note": None}
        try:
            if blob is None:
                row["issue_note"] = "null payload"
            else:
                text = decode_xml_text(blob, external_entities, strict)
                if not strict:
                    # lenient: strip unknown entities pre-parse — but the
                    # five PREDEFINED XML entities are not unknown; the
                    # parser expands them (stripping &amp;/&lt;/... would
                    # silently corrupt valid documents)
                    predefined = {"amp", "lt", "gt", "quot", "apos"}
                    text = _ENTITY_RE.sub(
                        lambda mm: mm.group(0) if mm.group(1) in predefined else "",
                        text,
                    )
                # charset already applied above; ET refuses unicode input
                # that still carries an encoding declaration
                text = re.sub(r"^\s*<\?xml[^>]*\?>", "", text, count=1)
                node = ET.fromstring(text)
                row.update(
                    root=node.tag,
                    fields={c.tag: (c.text or "") for c in node},
                    decode_ok=True,
                )
        except (ET.ParseError, UnicodeDecodeError, LookupError, ValueError) as e:
            row["issue_note"] = f"xml decode failed: {e}"
        rows.append(row)
    return pd.DataFrame(rows)
