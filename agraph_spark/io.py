"""Sources & sinks (SURVEY.md §2.1).

- S5/S8: graph store — nodes/edges as parquet directories (one table
  each, the layout Iceberg would use; writers take an optional
  ``fmt="iceberg"`` that engages ``saveAsTable`` when an Iceberg catalog is
  configured — this container has none, so parquet is the tested path and
  the layout is identical). Paths may be URIs (``file://``, ``hdfs://``,
  ``s3a://``): existence is checked through the Hadoop FileSystem.
- S7: GraphML / Cytoscape.js / D3 exports — display-format serializers,
  driver-side over collected rows BY DESIGN (visualization output is
  human-scale; anything big enough to need distribution shouldn't be
  rendered). Reference: mixins.py:187-283, utils.py:32-147.
- S2: document-file sources — extension-dispatched readers; text-family
  formats use native Spark readers; HTML/XLSX/Word/PDF parse inside one
  binaryFile kernel, and files its parser rejects are quarantined as
  text=NULL rows and always counted in a warning; image-OCR requires codec
  libraries absent here and raises NotImplementedError with the dispatch
  plumbing in place (factory semantics of processer/factory.py:24-157).
"""

from __future__ import annotations

import json
import logging
import os
import xml.sax.saxutils as sx

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import track

# Rows per table that the display exporters collect to the driver
EXPORT_ROWS = 100_000


# ------------------------------------------------------------- graph store

def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` under the session's Hadoop conf."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence through the Hadoop FileSystem, so a ``file://``,
    ``hdfs://`` or ``s3a://`` path resolves as Spark's readers resolve it
    (os.path only sees the driver's local disk)."""
    fs, hpath = _hadoop_path(spark, path)
    return bool(fs.exists(hpath))


def write_graph(nodes: DataFrame, edges: DataFrame, out_dir: str,
                fmt: str = "parquet") -> None:
    for name, df in (("nodes", nodes), ("edges", edges)):
        if fmt == "iceberg":
            df.writeTo(f"{out_dir}.{name}").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))


def read_graph(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    out = {}
    for name in ("nodes", "edges"):
        path = os.path.join(out_dir, name)
        if path_exists(spark, path):
            out[name] = spark.read.parquet(path)
    return out


def write_graph_bucketed(
    nodes: DataFrame,
    edges: DataFrame,
    db: str,
    n_buckets: int = 64,
    location: str | None = None,
    edges_by_tail: bool = False,
) -> None:
    """Co-located graph store: the 100-TB analog of the reference's
    storage backends (storage/base_storage.py:18 save_graph/load_graph —
    there a JSON/Chroma blob, here bucketed+sorted Spark tables).

    ``nodes`` is bucketed+sorted on entity_id and ``edges`` on head_id
    with the SAME bucket count, so every entity-keyed join the analytics/
    integrity operators run (degree, k-hop, dangling-edge checks,
    adjacency builds) is shuffle-free on both sides — at web scale the
    join shuffle, not the scan, is the dominant cost of repeated graph
    queries, and pre-bucketing pays it once at write time.

    ``edges_by_tail=True`` additionally writes ``edges_by_tail`` bucketed
    on tail_id (the CSR+CSC trade: one extra copy at write time buys
    shuffle-free joins from either end; a bucket column can only co-locate
    one key). Bucket metadata lives in the session catalog — on a real
    cluster back it with a persistent metastore (HMS/Glue); bucket counts
    should be sized so each bucket is a few hundred MB at the target scale.
    """
    spark = nodes.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")

    def _drop_stale_location(table: str) -> None:
        # A managed table's directory can outlive its catalog entry (the
        # default in-memory catalog forgets tables at session end, the
        # warehouse dir does not) — saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS forever after. Remove the orphan dir via
        # the Hadoop FS API (works for HDFS/S3 warehouses too).
        wh = spark.conf.get("spark.sql.warehouse.dir")
        fs, hp = _hadoop_path(spark, f"{wh}/{db}.db/{table}")
        fs.delete(hp, True)

    def _write(df: DataFrame, table: str, key: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
        w = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
        if location is not None:
            w = w.option("path", os.path.join(location, table))
        try:
            w.saveAsTable(f"{db}.{table}")
        except Exception as e:
            if "LOCATION_ALREADY_EXISTS" not in str(e):
                raise
            _drop_stale_location(table)
            w.saveAsTable(f"{db}.{table}")

    _write(nodes, "nodes", "entity_id")
    _write(edges, "edges", "head_id")
    if edges_by_tail:
        _write(edges, "edges_by_tail", "tail_id")


def read_graph_bucketed(spark: SparkSession, db: str) -> dict[str, DataFrame]:
    """Load the bucketed store written by write_graph_bucketed. Returned
    frames carry the bucket spec, so equi-joins on the bucket key skip the
    exchange (assert via plan in test_sources_sinks)."""
    out = {}
    for name in ("nodes", "edges", "edges_by_tail"):
        if spark.catalog.tableExists(f"{db}.{name}"):
            out[name] = spark.table(f"{db}.{name}")
    return out


def write_graph_json(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """S8: JSON-lines export per table (the reference's graph.json nested
    dict becomes two json-lines tables; to_dict/from_dict round-trip,
    graph.py:483-535)."""
    nodes.write.mode("overwrite").json(os.path.join(out_dir, "nodes_json"))
    edges.write.mode("overwrite").json(os.path.join(out_dir, "edges_json"))


# ------------------------------------------------------- display exporters

def export_graphml(nodes: DataFrame, edges: DataFrame) -> str:
    """S7: GraphML document (lightrag_builder.py:589-697 key layout d0..)."""
    n = nodes.limit(EXPORT_ROWS).collect()
    e = edges.limit(EXPORT_ROWS).collect()
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
        '<key id="d0" for="node" attr.name="name" attr.type="string"/>',
        '<key id="d1" for="node" attr.name="entity_type" attr.type="string"/>',
        '<key id="d2" for="edge" attr.name="pred" attr.type="string"/>',
        '<key id="d3" for="edge" attr.name="confidence" attr.type="double"/>',
        '<graph edgedefault="directed">',
    ]
    for r in n:
        parts.append(
            f'<node id="{sx.escape(r.entity_id)}">'
            f'<data key="d0">{sx.escape(r.name or "")}</data>'
            f'<data key="d1">{sx.escape(r.entity_type or "")}</data></node>'
        )
    for r in e:
        parts.append(
            f'<edge source="{sx.escape(r.head_id)}" target="{sx.escape(r.tail_id)}">'
            f'<data key="d2">{sx.escape(r.pred or "")}</data>'
            f'<data key="d3">{r.confidence if r.confidence is not None else 0.0}</data></edge>'
        )
    parts += ["</graph>", "</graphml>"]
    return "\n".join(parts)


def _graphml_root(xml_text: str):
    """Shared guarded parse for the GraphML importers: malformed XML
    becomes a clean ValueError (callers quarantine or surface it — a raw
    ParseError used to propagate), and DTD/entity declarations are
    rejected outright (xml.etree expands internal entities, so an
    entity-bomb interchange file could otherwise exhaust driver memory;
    legitimate GraphML never carries a DTD)."""
    import re
    import xml.etree.ElementTree as ET

    if re.search(r"<!(?:DOCTYPE|ENTITY)", xml_text):
        raise ValueError("malformed GraphML: DTD/entity declarations not allowed")
    try:
        return ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise ValueError(f"malformed GraphML: {e}") from None


def _graphml_float(s, default: float = 0.0) -> float:
    """Tolerant numeric attribute: a malformed weight in one element must
    not abort the whole import."""
    try:
        return float(s)
    except (TypeError, ValueError):
        return default


def import_graphml(spark: SparkSession, xml_text: str) -> tuple[DataFrame, DataFrame]:
    """S4: GraphML -> (nodes, edges) DataFrames (driver-side ElementTree
    parse; GraphML files are interchange-scale). Malformed input raises
    ValueError (see _graphml_root); nodes without ids are skipped."""
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = _graphml_root(xml_text)
    nodes, edges = [], []
    for nd in root.iterfind(".//g:node", ns):
        if nd.get("id") is None:
            continue
        data = {d.get("key"): (d.text or "") for d in nd.iterfind("g:data", ns)}
        nodes.append((nd.get("id"), data.get("d0", ""), data.get("d1", "unknown")))
    for ed in root.iterfind(".//g:edge", ns):
        # endpoint-less edges are importer artifacts, not graph data — drop
        # them (consistent with import_lightrag_graphml) so downstream
        # integrity checks don't count null-endpoint rows as dangling edges
        if ed.get("source") is None or ed.get("target") is None:
            continue
        data = {d.get("key"): (d.text or "") for d in ed.iterfind("g:data", ns)}
        edges.append(
            (ed.get("source"), ed.get("target"), data.get("d2", "related_to"),
             _graphml_float(data.get("d3", "0") or 0))
        )
    from .session import local_df

    ndf = local_df(spark, nodes, "entity_id string, name string, entity_type string")
    edf = local_df(spark, edges, "head_id string, tail_id string, pred string, confidence double")
    return ndf, edf


def export_cytoscape(nodes: DataFrame, edges: DataFrame) -> str:
    """S7: Cytoscape.js elements JSON (utils.py:79-114)."""
    elements = [
        {"data": {"id": r.entity_id, "label": r.name, "type": r.entity_type}}
        for r in nodes.limit(EXPORT_ROWS).collect()
    ] + [
        {"data": {"source": r.head_id, "target": r.tail_id, "label": r.pred}}
        for r in edges.limit(EXPORT_ROWS).collect()
    ]
    return json.dumps({"elements": elements})


def export_d3(nodes: DataFrame, edges: DataFrame) -> str:
    """S7: D3 force-layout JSON (utils.py:117-147)."""
    return json.dumps(
        {
            "nodes": [
                {"id": r.entity_id, "name": r.name, "group": r.entity_type}
                for r in nodes.limit(EXPORT_ROWS).collect()
            ],
            "links": [
                {"source": r.head_id, "target": r.tail_id, "type": r.pred,
                 "value": r.confidence}
                for r in edges.limit(EXPORT_ROWS).collect()
            ],
        }
    )


# ---------------------------------------------------- document-file source

JSON_EXTS = {".json", ".jsonl"}
CSV_EXTS = {".csv", ".tsv"}
STUB_EXTS = {".png": "image-ocr", ".jpg": "image-ocr", ".jpeg": "image-ocr"}
HTML_EXTS = {".html", ".htm"}
XLSX_EXTS = {".xlsx", ".xlsm"}
DOCX_EXTS = {".docx"}
DOC_EXTS = {".doc"}
PDF_EXTS = {".pdf"}


def read_documents(
    spark: SparkSession,
    path: str,
    skip_corrupt: bool = True,
    with_errors: bool = False,
) -> DataFrame:
    """S2: extension-dispatched document reader -> (conv_id, text).

    Text/markdown via wholeTextFiles-equivalent, JSON/CSV via native
    readers (all columns stringified and joined); html/xlsx/docx/doc/pdf
    via stdlib parsers inside the binaryFile mapInPandas kernel (.doc =
    OLE2/CFB + MS-DOC piece table, _doc_to_text). Image-OCR formats raise
    NotImplementedError (no OCR engine in this container) — the dispatch
    mirrors DocumentProcessorFactory (processer/factory.py).

    For the binary formats, ``skip_corrupt`` (default) quarantines files
    the parser rejects as text=NULL rows instead of aborting the scan;
    ``with_errors=True`` keeps the per-file ``parse_error`` column for
    auditing the rejects. When the column is dropped, the rejects are
    always counted on the driver and WARNed if any exist, so corrupt inputs
    never vanish silently: the parsed frame is ``caching.track``ed, so the
    count and the returned frame share one scan, and ``release_caches``
    frees it with every other operator's cache."""
    ext = os.path.splitext(path)[1].lower()
    binary_parsers = {**{e: _html_to_text for e in HTML_EXTS},
                      **{e: _xlsx_to_text for e in XLSX_EXTS},
                      **{e: _docx_to_text for e in DOCX_EXTS},
                      **{e: _doc_to_text for e in DOC_EXTS},
                      **{e: _pdf_to_text for e in PDF_EXTS}}
    if ext in binary_parsers:
        out = _read_binary_documents(
            spark, path, binary_parsers[ext], skip_corrupt=skip_corrupt
        )
        if with_errors:
            return out
        if skip_corrupt:
            out = track(out)
            n_bad = out.agg(F.count("parse_error")).first()[0]
            if n_bad:
                logging.getLogger(__name__).warning(
                    "read_documents(%s): quarantined %d corrupt file(s) as "
                    "text=NULL rows; re-read with with_errors=True to audit",
                    path, n_bad,
                )
        return out.drop("parse_error")
    if ext in STUB_EXTS:
        raise NotImplementedError(
            f"{STUB_EXTS[ext]} extraction requires codec libraries not present "
            "in this environment; convert to text/json/csv upstream"
        )
    if ext in JSON_EXTS:
        df = spark.read.json(path)
        return df.select(
            F.monotonically_increasing_id().cast("string").alias("conv_id"),
            F.to_json(F.struct(*df.columns)).alias("text"),
        )
    if ext in CSV_EXTS:
        sep = "\t" if ext == ".tsv" else ","
        df = spark.read.option("header", True).option("sep", sep).csv(path)
        return df.select(
            F.monotonically_increasing_id().cast("string").alias("conv_id"),
            F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in df.columns]).alias("text"),
        )
    # text family: one document per file
    return (
        spark.read.format("text").option("wholetext", True).load(path)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("conv_id"),
            F.col("value").alias("text"),
        )
    )


def _html_to_text(raw: bytes) -> str:
    """Tag-stripped text in document order, script/style/nav/header/footer
    removed — the reference HTMLProcessor's plain-text mode
    (processer/html_processor.py:132-161) via stdlib html.parser (bs4 is
    not installed here)."""
    from html.parser import HTMLParser

    # Only container tags whose end tag the parser will actually see may
    # increment depth. Void elements (<meta>, <link>, <br>, ...) never emit
    # handle_endtag, so counting them would leave depth stuck >0 and drop
    # every byte after the first bare <meta charset=...> — i.e. nearly all
    # real-world HTML. They contain no text, so skipping them is a no-op.
    skip_tags = {"script", "style", "nav", "header", "footer", "aside"}
    void_tags = {"meta", "link", "br", "hr", "img", "input", "area", "base",
                 "col", "embed", "source", "track", "wbr"}

    class _Extract(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.depth = 0
            self.parts: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag in skip_tags and tag not in void_tags:
                self.depth += 1

        def handle_endtag(self, tag):
            if tag in skip_tags and self.depth:
                self.depth -= 1

        def handle_data(self, data):
            if not self.depth and data.strip():
                self.parts.append(data.strip())

    p = _Extract()
    p.feed(raw.decode("utf-8", errors="replace"))
    return "\n".join(p.parts)


def _xlsx_to_text(raw: bytes) -> str:
    """Sheet-by-sheet pipe-joined rows — the reference
    SpreadsheetProcessor's formatted-table text (processer/
    spreadsheet_processor.py:164-279) via stdlib zipfile + ElementTree
    (openpyxl is not installed here). Handles inline and shared strings."""
    import io as _io
    import re as _re
    import zipfile
    from xml.etree import ElementTree as ET

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    out: list[str] = []
    with zipfile.ZipFile(_io.BytesIO(raw)) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{ns}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{ns}t")))
        sheets = sorted(
            (n for n in z.namelist()
             if _re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(_re.search(r"(\d+)", n).group(1)),  # sheet2 < sheet10
        )
        for idx, name in enumerate(sheets, 1):
            root = ET.fromstring(z.read(name))
            rows = []
            for row in root.iter(f"{ns}row"):
                vals = []
                for c in row.findall(f"{ns}c"):
                    v = c.find(f"{ns}v")
                    if v is None:
                        is_ = c.find(f"{ns}is")
                        vals.append("".join(t.text or "" for t in is_.iter(f"{ns}t")) if is_ is not None else "")
                    elif c.get("t") == "s":
                        vals.append(shared[int(v.text)])
                    else:
                        vals.append(v.text or "")
                if any(x.strip() for x in vals):
                    rows.append(" | ".join(vals))
            if rows:
                out.append(f"Sheet {idx}:\n" + "\n".join(rows))
    return "\n\n".join(out)


def _docx_to_text(raw: bytes) -> str:
    """S2 word source via stdlib zipfile + ElementTree (python-docx is not
    installed here). Mirrors the reference WordProcessor assembly
    (processer/word_processor.py:72-136): non-empty stripped body
    paragraphs joined by newline, then every table's rows appended after
    all paragraphs, each row the tab-join of its cells (cell text = its
    paragraphs newline-joined, stripped), keeping only rows with content."""
    import io as _io
    import zipfile
    from xml.etree import ElementTree as ET

    w = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
    with zipfile.ZipFile(_io.BytesIO(raw)) as z:
        root = ET.fromstring(z.read("word/document.xml"))
    body = root.find(f"{w}body")
    if body is None:
        return ""

    def para_text(p) -> str:
        # runs concatenate with no separator (python-docx Paragraph.text)
        return "".join(t.text or "" for t in p.iter(f"{w}t"))

    parts: list[str] = []
    tables = []
    for child in body:
        if child.tag == f"{w}p":
            txt = para_text(child).strip()
            if txt:
                parts.append(txt)
        elif child.tag == f"{w}tbl":
            tables.append(child)
    for tbl in tables:
        for tr in tbl.findall(f"{w}tr"):
            cells = []
            for tc in tr.findall(f"{w}tc"):
                cells.append(
                    "\n".join(para_text(p) for p in tc.findall(f"{w}p")).strip()
                )
            if any(cells):
                parts.append("\t".join(cells))
    return "\n".join(parts)


def _cfb_streams(raw: bytes) -> dict[str, bytes]:
    """Minimal OLE2/CFB (Compound File Binary, [MS-CFB]) reader: header →
    DIFAT → FAT chains → directory → per-stream bytes, with mini-stream
    (miniFAT) support for streams under the header's cutoff. Raises
    ValueError on any structural corruption (cycles, out-of-range sectors)
    so read_documents' quarantine path catches it."""
    import struct

    if len(raw) < 512 or raw[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        raise ValueError("not an OLE2 compound file")
    ssz = 1 << struct.unpack_from("<H", raw, 30)[0]
    mssz = 1 << struct.unpack_from("<H", raw, 32)[0]
    n_fat = struct.unpack_from("<I", raw, 44)[0]
    dir_start = struct.unpack_from("<I", raw, 48)[0]
    mini_cutoff = struct.unpack_from("<I", raw, 56)[0]
    minifat_start = struct.unpack_from("<I", raw, 60)[0]
    n_minifat = struct.unpack_from("<I", raw, 64)[0]
    difat_start = struct.unpack_from("<I", raw, 68)[0]
    n_difat = struct.unpack_from("<I", raw, 72)[0]
    difat = list(struct.unpack_from("<109I", raw, 76))
    FREE, END = 0xFFFFFFFF, 0xFFFFFFFE

    def sector(i: int) -> bytes:
        off = 512 + i * ssz
        if i < 0 or off + ssz > len(raw):
            raise ValueError("sector out of range")
        return raw[off:off + ssz]

    s, difat_seen = difat_start, set()
    for _ in range(min(n_difat, len(raw) // ssz + 1)):
        if s in (FREE, END):
            break
        if s in difat_seen:
            raise ValueError("DIFAT cycle")
        difat_seen.add(s)
        vals = struct.unpack(f"<{ssz // 4}I", sector(s))
        difat.extend(vals[:-1])
        s = vals[-1]
    fat_sectors = [i for i in difat if i != FREE][:n_fat]
    fat = struct.unpack(
        f"<{len(fat_sectors) * ssz // 4}I", b"".join(sector(i) for i in fat_sectors)
    )

    def chain(start: int) -> list[int]:
        out: list[int] = []
        s, seen = start, set()
        while s not in (END, FREE):
            if s in seen or s >= len(fat):
                raise ValueError("corrupt FAT chain")
            seen.add(s)
            out.append(s)
            s = fat[s]
        return out

    dirdata = b"".join(sector(i) for i in chain(dir_start))
    entries = []
    for off in range(0, len(dirdata) - 127, 128):
        ent = dirdata[off:off + 128]
        nlen = struct.unpack_from("<H", ent, 64)[0]
        typ = ent[66]
        if typ not in (2, 5) or nlen < 2 or nlen > 64:
            continue
        name = ent[:nlen - 2].decode("utf-16-le", "replace")
        start = struct.unpack_from("<I", ent, 116)[0]
        size = struct.unpack_from("<Q", ent, 120)[0]
        entries.append((name, typ, start, size))
    root = next((e for e in entries if e[1] == 5), None)
    ministream = b""
    if root is not None and root[3] > 0:
        ministream = b"".join(sector(i) for i in chain(root[2]))[:root[3]]
    minifat: tuple = ()
    if n_minifat and minifat_start not in (FREE, END):
        mf = b"".join(sector(i) for i in chain(minifat_start))
        minifat = struct.unpack(f"<{len(mf) // 4}I", mf)

    def minichain(start: int) -> list[int]:
        out: list[int] = []
        s, seen = start, set()
        while s not in (END, FREE):
            if s in seen or s >= len(minifat):
                raise ValueError("corrupt miniFAT chain")
            seen.add(s)
            out.append(s)
            s = minifat[s]
        return out

    streams = {}
    for name, typ, start, size in entries:
        if typ != 2:
            continue
        if size < mini_cutoff:
            data = b"".join(
                ministream[i * mssz:(i + 1) * mssz] for i in minichain(start)
            )
        else:
            data = b"".join(sector(i) for i in chain(start))
        if len(data) < size:
            raise ValueError("stream shorter than directory size")
        streams[name] = data[:size]
    return streams


def _doc_to_text(raw: bytes) -> str:
    """S2 legacy .doc source via pure stdlib ([MS-DOC]; reference:
    processer/word_processor.py's antiword/docx2txt path): CFB container →
    WordDocument stream FIB → Clx piece table in the 0Table/1Table stream
    → text pieces (cp1252 when the FcCompressed bit is set, UTF-16LE
    otherwise), truncated to ccpText (main body, excluding footnote/header
    sub-documents). Word's paragraph marks (CR), vertical tabs, and cell
    marks normalize to newline/tab, then the same non-empty-stripped-line
    assembly as _docx_to_text.

    Honest scope: unencrypted Word 97-2003 files (plus the pre-Clx
    fcMin/fcMax fallback). Encrypted (fEncrypted) and fast-saved complex
    files with Prc property revisions keep their text extractable here;
    OCR/embedded-object content does not."""
    import re as _re
    import struct

    streams = _cfb_streams(raw)
    wd = streams.get("WordDocument")
    if wd is None or len(wd) < 0x20:
        raise ValueError("no WordDocument stream")
    if struct.unpack_from("<H", wd, 0)[0] != 0xA5EC:
        raise ValueError("bad FIB magic")
    flags = struct.unpack_from("<H", wd, 0x000A)[0]
    if flags & 0x0100:  # fEncrypted
        raise ValueError("encrypted .doc not supported")
    table = streams.get("1Table" if flags & 0x0200 else "0Table", b"")
    ccp_text = struct.unpack_from("<I", wd, 76)[0] if len(wd) >= 80 else 0
    fc_clx = lcb_clx = 0
    if len(wd) >= 0x01AA:
        fc_clx, lcb_clx = struct.unpack_from("<II", wd, 0x01A2)
    if lcb_clx and fc_clx + lcb_clx <= len(table):
        clx = table[fc_clx:fc_clx + lcb_clx]
        pos = 0
        while pos < len(clx) and clx[pos] == 0x01:  # Prc revisions: skip
            if pos + 3 > len(clx):
                raise ValueError("truncated Prc")
            cb = struct.unpack_from("<h", clx, pos + 1)[0]
            pos += 3 + max(cb, 0)
        if pos + 5 > len(clx) or clx[pos] != 0x02:
            raise ValueError("no Pcdt in Clx")
        lcb = struct.unpack_from("<I", clx, pos + 1)[0]
        plc = clx[pos + 5:pos + 5 + lcb]
        if len(plc) < lcb or lcb < 4 or (lcb - 4) % 12:
            raise ValueError("bad PlcPcd")
        k = (lcb - 4) // 12
        cps = struct.unpack_from(f"<{k + 1}I", plc, 0)
        parts = []
        for i in range(k):
            fcc = struct.unpack_from("<I", plc, 4 * (k + 1) + 8 * i + 2)[0]
            n = cps[i + 1] - cps[i]
            if fcc & 0x40000000:
                fc = (fcc & 0x3FFFFFFF) // 2
                parts.append(wd[fc:fc + n].decode("cp1252", "replace"))
            else:
                fc = fcc & 0x3FFFFFFF
                parts.append(wd[fc:fc + 2 * n].decode("utf-16-le", "replace"))
        text = "".join(parts)
    else:
        fc_min, fc_max = struct.unpack_from("<II", wd, 0x18)
        if not (0 <= fc_min <= fc_max <= len(wd)):
            raise ValueError("bad fcMin/fcMax text range")
        text = wd[fc_min:fc_max].decode("cp1252", "replace")
    if ccp_text:
        text = text[:ccp_text]
    text = (
        text.replace("\r\n", "\n").replace("\r", "\n")
        .replace("\x0b", "\n").replace("\x07", "\t")
    )
    text = _re.sub(r"[\x00-\x08\x0c-\x1f]", "", text)
    lines = (ln.strip() for ln in text.split("\n"))
    return "\n".join(ln for ln in lines if ln)


def _pdf_unescape(s: bytes) -> str:
    """PDF literal-string unescape (\\n \\r \\t \\b \\f \\( \\) \\\\ and
    octal \\ddd); UTF-16BE strings (BOM FE FF) decoded as such, everything
    else as Latin-1 (the standard-font assumption; see _pdf_to_text)."""
    out = bytearray()
    i = 0
    esc = {ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8,
           ord("f"): 12, ord("("): 40, ord(")"): 41, ord("\\"): 92}
    while i < len(s):
        c = s[i]
        if c == 0x5C and i + 1 < len(s):  # backslash
            nxt = s[i + 1]
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                oct_digits = b""
                while j < len(s) and len(oct_digits) < 3 and 0x30 <= s[j] <= 0x37:
                    oct_digits += bytes([s[j]])
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            if nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                continue
            i += 1  # unknown escape: drop the backslash
            continue
        out.append(c)
        i += 1
    b = bytes(out)
    if b[:2] == b"\xfe\xff":
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            pass
    return b.decode("latin-1")


def _pdf_to_text(raw: bytes) -> str:
    """S2 pdf source via pure stdlib (pypdf is not installed here):
    FlateDecode content streams inflate with zlib, text shows as
    Tj/TJ/'/\" operators inside BT..ET blocks. Mirrors the reference
    PDFProcessor assembly (processer/pdf_processor.py:78-98): per-stream
    text, non-empty streams joined by newline, streams in document order
    (= page order for the linear PDFs this targets).

    Honest scope: simple-font text PDFs (Latin-1/WinAnsi-ish or UTF-16BE
    strings), plain or Flate-compressed. CID/Type0 composite fonts,
    encryption, and object streams are out of scope — those need a real
    PDF library; image-only PDFs extract as '' exactly like
    pypdf.extract_text on an image page."""
    import re as _re
    import zlib

    stream_pat = _re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", _re.S)
    # literal string (no nested-paren handling beyond escapes: fine for
    # generator output), hex string, and the operator that follows
    tok_pat = _re.compile(
        rb"\((?P<lit>(?:[^()\\]|\\.)*)\)\s*(?P<op>Tj|'|\")"
        rb"|\[(?P<arr>(?:[^\]\\]|\\.)*)\]\s*TJ"
        rb"|<(?P<hex>[0-9A-Fa-f\s]+)>\s*Tj"
        rb"|(?P<nl>T\*|TD|Td)"
    )
    arr_lit = _re.compile(rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]+>")

    pages: list[str] = []
    for m in stream_pat.finditer(raw):
        head, data = m.group(1), m.group(2)
        if b"/FlateDecode" in head:
            try:
                data = zlib.decompress(data.strip(b"\r\n"))
            except zlib.error:
                continue
        if b"BT" not in data:
            continue  # not a text content stream (font file, image, ...)
        parts: list[str] = []
        for t in tok_pat.finditer(data):
            if t.group("lit") is not None:
                s = _pdf_unescape(t.group("lit"))
                if t.group("op") in (b"'", b'"'):
                    parts.append("\n")
                parts.append(s)
            elif t.group("arr") is not None:
                for frag in arr_lit.findall(t.group("arr")):
                    if frag.startswith(b"("):
                        parts.append(_pdf_unescape(frag[1:-1]))
                    else:
                        h = b"".join(frag[1:-1].split())
                        parts.append(bytes.fromhex(h.decode()).decode("latin-1"))
            elif t.group("hex") is not None:
                h = b"".join(t.group("hex").split())
                if len(h) % 2:
                    h += b"0"
                parts.append(bytes.fromhex(h.decode()).decode("latin-1"))
            elif t.group("nl") is not None and parts and parts[-1] != "\n":
                parts.append("\n")
        text = "".join(parts).strip()
        if text:
            pages.append(text)
    return "\n".join(pages)


def _read_binary_documents(
    spark: SparkSession, path: str, to_text, skip_corrupt: bool = True
) -> DataFrame:
    """binaryFile scan -> per-file text extraction inside a mapInPandas
    kernel: file parsing runs ON EXECUTORS, one Arrow batch of files at a
    time — a directory of millions of files distributes like any scan.

    ``skip_corrupt`` (default): a file the parser rejects yields
    text=NULL + its error in ``parse_error`` instead of throwing — at web
    scale one truncated upload must not abort a million-file job. Filter
    ``parse_error IS NOT NULL`` to audit the rejects. NotImplementedError
    (unsupported sub-format, e.g. an encrypted PDF) is captured the same
    way. Pass skip_corrupt=False for fail-fast semantics."""
    from collections.abc import Iterator

    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def extract(raw: bytes):
        if not skip_corrupt:
            return to_text(raw), None
        try:
            return to_text(raw), None
        except Exception as e:  # noqa: BLE001 - per-file quarantine
            return None, f"{type(e).__name__}: {e}"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pairs = pdf["content"].map(extract)
            yield pd.DataFrame({
                "conv_id": pdf["path"].map(lambda p: p.rsplit("/", 1)[-1]),
                "text": pairs.map(lambda t: t[0]),
                "parse_error": pairs.map(lambda t: t[1]),
            })

    return files.mapInPandas(
        kernel, schema="conv_id string, text string, parse_error string"
    )


# LightRAG GraphML attribute keys (lightrag_builder.py:383-559):
# nodes d0=entity_id(name) d1=entity_type d2=description d3=source_id
# d4=file_path d5=created_at; edges d6=weight d7=description d8=keywords
# d9=source_id d10=file_path d11=created_at.
_LIGHTRAG_KNOWN_TYPES = {
    "person", "organization", "location", "concept", "document",
    "keyword", "table", "column", "database",
}


def import_lightrag_graphml(spark: SparkSession, xml_text: str) -> tuple[DataFrame, DataFrame]:
    """S4 LightRAG fidelity: parse a LightRAG-exported GraphML with the full
    d0-d11 attribute mapping (lightrag_builder.py:438-559) — name falls back
    to the node id, unknown entity types map to 'unknown', edges are
    RELATED_TO with weight as confidence (default 1.0), and edges whose
    endpoints are missing are dropped (the reference returns None for
    them). Malformed input raises ValueError (see _graphml_root)."""
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = _graphml_root(xml_text)
    nodes, edges, node_ids = [], [], set()
    for nd in root.iterfind(".//g:node", ns):
        nid = nd.get("id")
        if nid is None:
            continue
        d = {x.get("key"): x.text for x in nd.iterfind("g:data", ns) if x.text}
        et = (d.get("d1") or "unknown").lower()
        nodes.append((
            nid, d.get("d0", nid),
            et if et in _LIGHTRAG_KNOWN_TYPES else "unknown",
            d.get("d2", ""), "lightrag",
            d.get("d3", ""), d.get("d4", ""), d.get("d5", ""),
        ))
        node_ids.add(nid)
    for ed in root.iterfind(".//g:edge", ns):
        src, dst = ed.get("source"), ed.get("target")
        if src not in node_ids or dst not in node_ids:
            continue
        d = {x.get("key"): x.text for x in ed.iterfind("g:data", ns) if x.text}
        edges.append((
            src, dst, "related_to", _graphml_float(d.get("d6", 1.0), 1.0), "lightrag",
            d.get("d7", ""), d.get("d8", ""), d.get("d9", ""),
            d.get("d10", ""), d.get("d11", ""),
        ))
    from .session import local_df

    ndf = local_df(
        spark,
        nodes,
        "entity_id string, name string, entity_type string, description string, "
        "source string, source_id string, file_path string, created_at string",
    )
    edf = local_df(
        spark,
        edges,
        "head_id string, tail_id string, pred string, confidence double, "
        "source string, description string, keywords string, source_id string, "
        "file_path string, created_at string",
    )
    return ndf, edf
