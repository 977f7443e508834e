"""Multimodal plumbing, DB-schema source, exports, salting."""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from agraph_spark.io import (
    export_cytoscape,
    export_d3,
    export_graphml,
    import_graphml,
    read_documents,
    read_graph,
    write_graph,
    write_graph_json,
)
from agraph_spark.operators.db_schema import (
    catalog_from_dict,
    clean_table_name,
    extract_db_entities,
    extract_db_relations,
)
from agraph_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image,
    extract_media_features,
    fake_decoder,
    media_stats,
    sample_video_frames,
)
from agraph_spark.operators.salting import salted_collect_set

SCHEMA_DICT = {
    "database_name": "shopdb",
    "tables": [
        {"name": "tbl_users", "columns": [
            {"name": "id", "primary_key": True},
            {"name": "email", "type": "varchar"},
        ]},
        {"name": "tb_user_orders", "columns": [
            {"name": "id"},
            {"name": "user_id", "foreign_key": {"table": "tbl_users", "column": "id"}},
        ]},
        {"name": "orders_archive", "columns": [{"name": "payload", "type": "json"}]},
    ],
}


def test_db_schema_entities_and_relations(spark):
    cat = catalog_from_dict(spark, SCHEMA_DICT)
    ents = extract_db_entities(cat)
    by_type = {}
    for r in ents.collect():
        by_type.setdefault(r.entity_type, set()).add(r.name)
    assert by_type["database"] == {"shopdb"}
    assert by_type["table"] == {"tbl_users", "tb_user_orders", "orders_archive"}
    # common columns (id) skipped; qualified names for the rest
    assert by_type["column"] == {"tbl_users.email", "tb_user_orders.user_id",
                                 "orders_archive.payload"}
    # business concepts from cleaned names: users->User, user_orders->User+Order
    assert "User Management" in by_type["concept"]
    assert "Order Management" in by_type["concept"]

    rels = extract_db_relations(cat)
    triples = {(r.head_name, r.pred, r.tail_name) for r in rels.collect()}
    assert ("shopdb", "contains", "tbl_users") in triples
    assert ("tbl_users", "contains", "tbl_users.email") in triples
    assert ("tb_user_orders.user_id", "foreign_key", "tbl_users.id") in triples


def test_clean_table_name_first_prefix_only(spark):
    df = spark.createDataFrame(
        [("tbl_users",), ("tb_x",), ("t_y",), ("plain",), ("TBL_UP",)], "n string"
    )
    got = [r.c for r in df.select(clean_table_name(F.col("n")).alias("c")).collect()]
    assert got == ["users", "x", "y", "plain", "up"]


def test_multimodal_features_and_sampling(spark):
    rows = [
        ("m1", 1, "image/png", 64, 64, None, b"\x89PNGfake1"),
        ("m2", 1, "image/png", 32, 32, None, b"\x89PNGfake2"),
        ("v1", 2, "video/mp4", 640, 480, 3500, b"\x00\x00ftypfake"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(media, decoder=fake_decoder, out_dim=8)
    got = {r.media_id: r.feature for r in feats.collect()}
    assert set(got) == {"m1", "m2", "v1"}
    assert len(got["m1"]) == 8
    # deterministic: same bytes -> same features on recompute
    again = {r.media_id: r.feature for r in
             extract_media_features(media.repartition(3), decoder=fake_decoder, out_dim=8).collect()}
    assert got == again
    # compressed/unknown formats still route to the injectable-decoder slot
    with pytest.raises(NotImplementedError):
        decode_image(b"x")

    frames = sample_video_frames(media).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000]
    stats = {r.mime: r.n for r in media_stats(media).collect()}
    assert stats == {"image/png": 2, "video/mp4": 1}


def test_graph_store_and_exports(spark):
    nodes = spark.createDataFrame(
        [("e1", "Acme & Co", "organization", 0.9), ("e2", "Paris", "location", 0.8)],
        "entity_id string, name string, entity_type string, confidence double",
    )
    edges = spark.createDataFrame(
        [("x1", "e1", "e2", "belongs_to", 0.7)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double",
    )
    with tempfile.TemporaryDirectory() as d:
        write_graph(nodes, edges, d)
        back = read_graph(spark, d)
        assert back["nodes"].count() == 2 and back["edges"].count() == 1

    xml = export_graphml(nodes, edges)
    assert "Acme &amp; Co" in xml  # escaping
    n2, e2 = import_graphml(spark, xml)
    assert {r.name for r in n2.collect()} == {"Acme & Co", "Paris"}
    assert e2.first().pred == "belongs_to"

    cy = json.loads(export_cytoscape(nodes, edges))
    assert len(cy["elements"]) == 3
    d3 = json.loads(export_d3(nodes, edges))
    assert len(d3["nodes"]) == 2 and d3["links"][0]["type"] == "belongs_to"


def test_read_graph_through_filesystem_uri(spark, tmp_path):
    """A store written at a file:// URI reads back through the same URI:
    read_graph checks existence through the Hadoop FileSystem, as Spark's
    own readers resolve the path, not with the driver's os.path."""
    nodes = spark.createDataFrame([("e1", "Acme")], "entity_id string, name string")
    edges = spark.createDataFrame([("x1", "e1", "e1", "self")],
                                  "edge_id string, head_id string, tail_id string, pred string")
    uri = "file://" + str(tmp_path / "store")
    write_graph(nodes, edges, uri)
    back = read_graph(spark, uri)
    assert set(back) == {"nodes", "edges"}
    assert back["nodes"].count() == 1 and back["edges"].count() == 1


def test_write_graph_json_round_trip(spark, tmp_path):
    """S8: the JSON-lines tables read back as the same rows, with quotes,
    newlines, non-ASCII text and nulls intact."""
    nodes = spark.createDataFrame(
        [("e1", 'Acme "&" Co', "organization", 0.9), ("e2", "Zürich\nHQ", None, 0.8),
         ("e3", "东京", "location", None)],
        "entity_id string, name string, entity_type string, confidence double",
    )
    edges = spark.createDataFrame(
        [("x1", "e1", "e2", "belongs_to", 0.7), ("x2", "e2", "e3", "related_to", None)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double",
    )
    write_graph_json(nodes, edges, str(tmp_path))
    for name, df in (("nodes_json", nodes), ("edges_json", edges)):
        back = spark.read.schema(df.schema).json(str(tmp_path / name))
        assert sorted(back.collect()) == sorted(df.collect()), name


def test_read_documents_dispatch(spark, tmp_path):
    p = tmp_path / "a.md"
    p.write_text("hello world doc")
    docs = read_documents(spark, str(p))
    assert docs.first().text == "hello world doc"
    with pytest.raises(NotImplementedError, match="image-ocr"):
        read_documents(spark, "/nonexistent/x.png")


def test_salted_aggregations(spark):
    rows = [("hot", f"v{i % 7}", f"id{i}") for i in range(1000)] + [
        ("cold", "v0", "idc")
    ]
    df = spark.createDataFrame(rows, "key string, value string, ident string")
    sets = {r.key: sorted(r["values"]) for r in
            salted_collect_set(df, "key", "value", "ident").collect()}
    assert sets["hot"] == [f"v{i}" for i in range(7)]


def test_read_html_documents(spark, tmp_path):
    # bare <meta>/<link> (void elements, no end tag) must not swallow the
    # body — real-world HTML regression from round 2 (ADVICE high)
    html = """<html><head><meta charset="utf-8">
    <link rel="stylesheet" href="s.css"><title>T</title><style>body{x}</style>
    <script>var a=1;</script></head>
    <body><nav>menu</nav><h1>Team Page</h1>
    <p>Alice Johnson works at<br>Acme Corp.</p>
    <footer>foot</footer></body></html>"""
    f = tmp_path / "team.html"
    f.write_text(html)
    rows = read_documents(spark, str(f)).collect()
    assert len(rows) == 1 and rows[0].conv_id == "team.html"
    t = rows[0].text
    assert "Team Page" in t and "Alice Johnson works at" in t and "Acme Corp." in t
    assert "var a=1" not in t and "menu" not in t and "foot" not in t


def test_read_xlsx_documents(spark, tmp_path):
    # build a minimal xlsx (zip of OOXML parts) with stdlib only
    import zipfile

    f = tmp_path / "book.xlsx"
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    with zipfile.ZipFile(f, "w") as z:
        z.writestr("xl/sharedStrings.xml",
                   f'<?xml version="1.0"?><sst {ns}><si><t>name</t></si>'
                   f'<si><t>dept</t></si><si><t>Alice</t></si><si><t>Eng</t></si></sst>')
        z.writestr("xl/worksheets/sheet1.xml",
                   f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                   '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
                   '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2" t="s"><v>3</v></c>'
                   '<c r="C2"><v>42</v></c></row>'
                   '</sheetData></worksheet>')
    rows = read_documents(spark, str(f)).collect()
    assert len(rows) == 1 and rows[0].conv_id == "book.xlsx"
    t = rows[0].text
    assert t.startswith("Sheet 1:")
    assert "name | dept" in t and "Alice | Eng | 42" in t


def test_import_lightrag_graphml(spark):
    """LightRAG d0-d11 attribute fidelity: name<-d0 (fallback id),
    type<-d1 (unknown fallback), weight<-d6, props carried; dangling edges
    dropped (lightrag_builder.py:383-559)."""
    from agraph_spark.io import import_lightrag_graphml

    xml = """<?xml version='1.0'?>
    <graphml xmlns="http://graphml.graphdrawing.org/xmlns"><graph>
      <node id="n1"><data key="d0">Alice</data><data key="d1">Person</data>
        <data key="d2">engineer</data><data key="d3">chunk-1</data>
        <data key="d5">2024-01-01</data></node>
      <node id="n2"><data key="d1">martian</data></node>
      <edge source="n1" target="n2"><data key="d6">0.75</data>
        <data key="d7">knows</data><data key="d8">social</data></edge>
      <edge source="n1" target="missing"><data key="d6">0.9</data></edge>
    </graph></graphml>"""
    nodes, edges = import_lightrag_graphml(spark, xml)
    n = {r.entity_id: r for r in nodes.collect()}
    assert n["n1"].name == "Alice" and n["n1"].entity_type == "person"
    assert n["n1"].description == "engineer" and n["n1"].source_id == "chunk-1"
    assert n["n2"].name == "n2" and n["n2"].entity_type == "unknown"
    e = edges.collect()
    assert len(e) == 1  # dangling edge dropped
    assert (e[0].pred, e[0].confidence, e[0].description, e[0].keywords) == (
        "related_to", 0.75, "knows", "social")


def test_decode_image_real_formats(spark):
    """decode_image really decodes netpbm P6/P5 and 24-bit BMP (stdlib-only
    formats), end-to-end through the Arrow-batched feature kernel."""
    import struct

    import numpy as np

    from agraph_spark.operators.multimodal import decode_image, extract_media_features

    # P6 2x2 RGB with a comment line: R G / B W
    ppm = (b"P6\n# test\n2 2\n255\n"
           + bytes([255, 0, 0,  0, 255, 0,
                    0, 0, 255,  255, 255, 255]))
    img = decode_image(ppm)
    assert img.shape == (2, 2, 3)
    assert np.allclose(img[0, 0], [1, 0, 0]) and np.allclose(img[1, 1], [1, 1, 1])

    # P5 graymap
    pgm = b"P5\n3 1\n255\n" + bytes([0, 128, 255])
    g = decode_image(pgm)
    assert g.shape == (1, 3) and abs(g[0, 1] - 128 / 255) < 1e-6

    # 24-bit BI_RGB BMP, 2x2, bottom-up, BGR, 4-byte-padded rows
    w = h = 2
    stride = (w * 3 + 3) & ~3
    # rows bottom-up: storage row0 = image bottom row [blue, white]
    px = bytes([255, 0, 0,  255, 255, 255]) + b"\x00" * (stride - 6)  # BGR blue, white
    px += bytes([0, 0, 255,  0, 255, 0]) + b"\x00" * (stride - 6)     # BGR red, green
    header = (b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0))
    bmp = header + px
    b_img = decode_image(bmp)
    assert b_img.shape == (2, 2, 3)
    assert np.allclose(b_img[0, 0], [1, 0, 0])   # top-left red (RGB)
    assert np.allclose(b_img[0, 1], [0, 1, 0])   # top-right green
    assert np.allclose(b_img[1, 0], [0, 0, 1])   # bottom-left blue

    # PNG is decoded for real now; a signature with structural damage is a
    # parse error (quarantined upstream), not a missing-codec stub
    import pytest as _pt
    with _pt.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    # JPEG remains behind the injectable-decoder contract
    with _pt.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0jpegish")

    # end-to-end: real decode inside the mapInPandas kernel
    media = spark.createDataFrame(
        [("m1", ppm), ("m2", bmp)], "media_id string, content binary")
    feats = {r.media_id: r for r in
             extract_media_features(media, out_dim=4).collect()}
    assert feats["m1"].n_bytes == len(ppm) and len(feats["m1"].feature) == 4
    assert feats["m2"].n_bytes == len(bmp) and len(feats["m2"].feature) == 4


def test_entry_graph_store_equals_direct_build(spark):
    """__spark_entry__._g (bucketed-store path, round 4) must return the
    exact row set build_graph returns — the store is a cache, never a
    semantic change."""
    import __spark_entry__ as E
    from agraph_spark.tpch_graph import build_graph

    sf = "/root/testdata/sf0.001"
    n_direct, e_direct = build_graph(spark, sf)
    n_store, e_store = E._g(spark, sf)
    # the store must actually serve (catches the stale-LOCATION silent
    # fallback: a managed-table dir surviving a dead session's catalog)
    db = E._graph_db_name(sf)
    assert spark.catalog.tableExists(f"{db}.nodes")
    assert db in n_store._jdf.queryExecution().analyzed().toString()
    assert {tuple(r) for r in n_store.collect()} == {tuple(r) for r in n_direct.collect()}
    assert {tuple(r) for r in e_store.collect()} == {tuple(r) for r in e_direct.collect()}


def test_bucketed_graph_store_joins_without_shuffle(spark, tmp_path):
    """write_graph_bucketed co-locates nodes(entity_id) and edges(head_id):
    an entity-keyed equi-join over the bucketed tables plans with NO
    ShuffleExchange on either side (broadcast disabled to force the
    sort-merge path the layout exists for), and round-trips the rows."""
    from agraph_spark.io import read_graph_bucketed, write_graph_bucketed

    nodes = spark.createDataFrame(
        [(f"E{i}", f"name{i}", "t", 1.0) for i in range(50)],
        "entity_id string, name string, entity_type string, confidence double",
    )
    edges = spark.createDataFrame(
        [(f"E{i % 50}", f"E{(i * 7) % 50}", "rel", 0.9, "s") for i in range(200)],
        "head_id string, tail_id string, pred string, confidence double, source string",
    )
    db = "bktest"
    write_graph_bucketed(nodes, edges, db, n_buckets=4,
                         location=str(tmp_path), edges_by_tail=True)
    try:
        t = read_graph_bucketed(spark, db)
        assert set(t) == {"nodes", "edges", "edges_by_tail"}
        assert t["edges"].count() == 200 and t["nodes"].count() == 50

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t["edges"].join(
                t["nodes"], t["edges"].head_id == t["nodes"].entity_id)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # neither side shuffles
            assert j.count() == 200

            # tail-keyed joins use the CSC copy, also exchange-free
            j2 = t["edges_by_tail"].join(
                t["nodes"], t["edges_by_tail"].tail_id == t["nodes"].entity_id)
            assert "Exchange" not in j2._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        for name in ("nodes", "edges", "edges_by_tail"):
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def _mini_docx() -> bytes:
    """Minimal OOXML word document: two paragraphs + one 2x2 table."""
    import io as _io
    import zipfile

    doc = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:r><w:t>Alice works at Acme Corp.</w:t></w:r>
       <w:r><w:t xml:space="preserve"> She leads the graph team.</w:t></w:r></w:p>
  <w:p><w:r><w:t>   </w:t></w:r></w:p>
  <w:tbl>
   <w:tr><w:tc><w:p><w:r><w:t>name</w:t></w:r></w:p></w:tc>
         <w:tc><w:p><w:r><w:t>role</w:t></w:r></w:p></w:tc></w:tr>
   <w:tr><w:tc><w:p><w:r><w:t>Bob</w:t></w:r></w:p></w:tc>
         <w:tc><w:p><w:r><w:t>engineer</w:t></w:r></w:p></w:tc></w:tr>
  </w:tbl>
  <w:p><w:r><w:t>Closing line.</w:t></w:r></w:p>
 </w:body>
</w:document>"""
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("word/document.xml", doc)
    return buf.getvalue()


def _mini_pdf() -> bytes:
    """Minimal one-page PDF whose content stream is Flate-compressed."""
    import zlib

    content = (b"BT /F1 12 Tf 72 700 Td (Knowledge graphs link entities.) Tj "
               b"0 -14 TD [(Spark) -250 (scales) -250 (them.)] TJ ET")
    comp = zlib.compress(content)
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n",
        b"4 0 obj << /Length %d /Filter /FlateDecode >> stream\n" % len(comp)
        + comp + b"\nendstream endobj\n",
    ]
    return b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF\n"


def test_docx_and_pdf_extraction(spark, tmp_path):
    """S2 pdf/docx de-stub: stdlib extraction end-to-end through the
    binaryFile mapInPandas reader; legacy .doc stays NotImplementedError."""
    import pytest as _pt

    from agraph_spark.io import _docx_to_text, _pdf_to_text, read_documents

    docx = _mini_docx()
    txt = _docx_to_text(docx)
    # reference WordProcessor appends ALL tables after ALL paragraphs
    # (word_processor.py:94-106), so "Closing line." precedes the table
    assert txt == ("Alice works at Acme Corp. She leads the graph team.\n"
                   "Closing line.\nname\trole\nBob\tengineer")

    pdf = _mini_pdf()
    ptxt = _pdf_to_text(pdf)
    assert ptxt == "Knowledge graphs link entities.\nSparkscalesthem."

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.docx").write_bytes(docx)
    rows = {r.conv_id: r.text for r in
            read_documents(spark, str(d / "*.docx")).collect()}
    assert rows["a.docx"].startswith("Alice works at Acme")

    (d / "b.pdf").write_bytes(pdf)
    prows = {r.conv_id: r.text for r in
             read_documents(spark, str(d / "*.pdf")).collect()}
    assert "Knowledge graphs link entities." in prows["b.pdf"]

    (d / "c.doc").write_bytes(_mini_doc())
    drows = {r.conv_id: r.text for r in
             read_documents(spark, str(d / "*.doc")).collect()}
    assert drows["c.doc"] == "Alice works at Acme Corp.\nBob lives in Zürich — naïve café."


def _cfb_container(streams: dict[str, bytes], cutoff: int = 4096) -> bytes:
    """Minimal [MS-CFB] writer for fixtures: 512-byte sectors, streams
    under ``cutoff`` go through the root mini stream + miniFAT (so the
    reader's mini path is exercised), one FAT sector, one directory
    sector."""
    import struct

    FREE, END, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    sectors: list[bytes] = []
    chains: list[tuple[int, int]] = []

    def add(data: bytes) -> tuple[int, int]:
        start = len(sectors)
        n = max(1, (len(data) + 511) // 512)
        for i in range(n):
            sectors.append(data[i * 512:(i + 1) * 512].ljust(512, b"\x00"))
        chains.append((start, n))
        return start, n

    big = {n: d for n, d in streams.items() if len(d) >= cutoff}
    small = {n: d for n, d in streams.items() if len(d) < cutoff}
    place = {n: add(d) for n, d in big.items()}

    mini_data, mini_place, minifat_entries = b"", {}, []
    for n, d in small.items():
        ms = len(mini_data) // 64
        mn = max(1, (len(d) + 63) // 64)
        mini_place[n] = ms
        mini_data += d.ljust(mn * 64, b"\x00")
        minifat_entries += list(range(ms + 1, ms + mn)) + [END]
    root_start, root_size = (END, 0)
    if mini_data:
        root_start = add(mini_data)[0]
        root_size = len(mini_data)
        mf = struct.pack(f"<{len(minifat_entries)}I", *minifat_entries)
        minifat_start = add(mf.ljust(512, b"\xff"))[0]
        n_minifat = 1
    else:
        minifat_start, n_minifat = END, 0

    def dirent(name: str, typ: int, start: int, size: int) -> bytes:
        nm = name.encode("utf-16-le")
        ent = bytearray(128)
        ent[0:len(nm)] = nm
        struct.pack_into("<H", ent, 64, len(nm) + 2)
        ent[66] = typ
        ent[67] = 1  # black
        struct.pack_into("<i", ent, 68, -1)   # siblings/child: none
        struct.pack_into("<i", ent, 72, -1)
        struct.pack_into("<i", ent, 76, 1 if typ == 5 else -1)
        struct.pack_into("<I", ent, 116, start)
        struct.pack_into("<Q", ent, 120, size)
        return bytes(ent)

    dirents = [dirent("Root Entry", 5, root_start, root_size)]
    for n, d in streams.items():
        start = mini_place[n] if n in mini_place else place[n][0]
        dirents.append(dirent(n, 2, start, len(d)))
    dir_start = add(b"".join(dirents))[0]

    fat_sector = len(sectors)  # FAT will be the last sector
    fat = [FREE] * 128
    for start, n in chains:
        for i in range(n - 1):
            fat[start + i] = start + i + 1
        fat[start + n - 1] = END
    fat[fat_sector] = FATSECT
    import struct as _st
    sectors.append(_st.pack("<128I", *fat))

    hdr = bytearray(512)
    hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    _st.pack_into("<H", hdr, 24, 0x003E)   # minor
    _st.pack_into("<H", hdr, 26, 0x0003)   # major (512-byte sectors)
    _st.pack_into("<H", hdr, 28, 0xFFFE)   # byte order
    _st.pack_into("<H", hdr, 30, 9)        # sector shift
    _st.pack_into("<H", hdr, 32, 6)        # mini sector shift
    _st.pack_into("<I", hdr, 44, 1)        # n FAT sectors
    _st.pack_into("<I", hdr, 48, dir_start)
    _st.pack_into("<I", hdr, 56, cutoff)
    _st.pack_into("<I", hdr, 60, minifat_start)
    _st.pack_into("<I", hdr, 64, n_minifat)
    _st.pack_into("<I", hdr, 68, END)      # no extended DIFAT
    _st.pack_into("<I", hdr, 72, 0)
    difat = [FREE] * 109
    difat[0] = fat_sector
    _st.pack_into("<109I", hdr, 76, *difat)
    return bytes(hdr) + b"".join(sectors)


def _mini_doc() -> bytes:
    """Word 97 .doc fixture: two-piece piece table — piece 1 cp1252
    (compressed fc), piece 2 UTF-16LE with non-ASCII — so both FcCompressed
    decodings and the Clx walk are exercised; the small 1Table stream lands
    in the mini stream, the padded WordDocument in normal sectors."""
    import struct

    p1 = "Alice works at Acme Corp.\r"
    p2 = "Bob lives in Zürich — naïve café.\r"
    text_off = 1024
    wd = bytearray(4608)  # >= 4096 so WordDocument takes the normal-FAT path
    struct.pack_into("<H", wd, 0, 0xA5EC)
    struct.pack_into("<H", wd, 0x000A, 0x0200)       # fWhichTblStm -> 1Table
    struct.pack_into("<I", wd, 76, len(p1) + len(p2))  # ccpText
    wd[text_off:text_off + len(p1)] = p1.encode("cp1252")
    u_off = text_off + len(p1)
    wd[u_off:u_off + 2 * len(p2)] = p2.encode("utf-16-le")

    # Clx: clxt=2, lcbPlcPcd, CPs [0, n1, n1+n2], 2 PCDs
    cps = [0, len(p1), len(p1) + len(p2)]
    pcd1 = struct.pack("<HIH", 0, (text_off * 2) | 0x40000000, 0)
    pcd2 = struct.pack("<HIH", 0, u_off, 0)
    plc = struct.pack("<3I", *cps) + pcd1 + pcd2
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    fc_clx = 16
    table = b"\x00" * fc_clx + clx
    struct.pack_into("<II", wd, 0x01A2, fc_clx, len(clx))
    return _cfb_container({"WordDocument": bytes(wd), "1Table": table},
                          cutoff=4096)


def test_corrupt_file_quarantine(spark, tmp_path):
    """One truncated upload must not abort a million-file scan: corrupt
    binary-format files become text=NULL (+ parse_error when requested);
    skip_corrupt=False restores fail-fast."""
    d = tmp_path / "mix"
    d.mkdir()
    (d / "good.docx").write_bytes(_mini_docx())
    (d / "bad.docx").write_bytes(b"this is not a zip archive")

    rows = {r.conv_id: r for r in
            read_documents(spark, str(d / "*.docx"), with_errors=True).collect()}
    assert rows["good.docx"].text.startswith("Alice works")
    assert rows["good.docx"].parse_error is None
    assert rows["bad.docx"].text is None
    assert "BadZipFile" in rows["bad.docx"].parse_error

    # default shape stays (conv_id, text)
    assert read_documents(spark, str(d / "*.docx")).columns == ["conv_id", "text"]

    import pytest as _pt
    with _pt.raises(Exception):
        read_documents(spark, str(d / "*.docx"), skip_corrupt=False).collect()


def test_parser_fuzz_no_hang_or_weird_errors():
    """Arbitrary bytes must never hang the extraction kernels: _pdf_to_text
    returns a str or raises cleanly; _docx_to_text raises zip/xml errors
    the quarantine path captures. (Hypothesis, driver-side only.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from agraph_spark.io import _doc_to_text, _docx_to_text, _pdf_to_text

    @settings(max_examples=200, deadline=1000)
    @given(st.binary(max_size=4096))
    def fuzz(raw):
        try:
            out = _pdf_to_text(raw)
            assert isinstance(out, str)
        except Exception as e:
            assert isinstance(e, (ValueError, UnicodeDecodeError)), e
        try:
            out = _docx_to_text(raw)
            assert isinstance(out, str)
        except Exception:
            pass  # BadZipFile / KeyError / ParseError — quarantined upstream
        try:
            out = _doc_to_text(raw)
            assert isinstance(out, str)
        except Exception as e:
            # struct.error on truncated headers, ValueError on corrupt
            # FAT/FIB — both quarantined upstream; nothing else may escape
            import struct as _struct
            assert isinstance(e, (ValueError, _struct.error, StopIteration)), e

    fuzz()

    # seeded .doc corruption: valid CFB magic + garbage body, cyclic FAT
    import struct as _struct
    for raw in [b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 504,
                b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\xff" * 1024]:
        try:
            _doc_to_text(raw)
        except (ValueError, _struct.error, StopIteration):
            pass

    # seeded structured-ish inputs: stream markers without valid deflate
    for raw in [b"<< /Filter /FlateDecode >> stream\nnotzlib\nendstream",
                b"BT (unterminated", b"%PDF-1.4\n" + b"\x00" * 100]:
        assert isinstance(_pdf_to_text(raw), str)


def test_png_codec_roundtrip_and_quarantine(spark):
    """Stdlib PNG decode (VERDICT r4 #2): encode->decode is bit-exact for
    gray and RGB across EVERY filter type (None/Sub/Up/Average/Paeth),
    hand-built palette / gray+alpha / RGBA images decode correctly,
    16-bit and interlaced raise NotImplementedError, structural damage
    raises ValueError, and corrupt blobs ride the feature kernel's
    quarantine column instead of aborting the job."""
    import struct
    import zlib

    import numpy as np

    from agraph_spark.operators.multimodal import (
        _decode_png,
        decode_image,
        encode_png,
        extract_media_features,
    )

    rng = np.random.default_rng(31337)
    for shape in [(8, 8), (5, 7), (8, 8, 3), (3, 11, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for f in range(5):
            dec = (_decode_png(encode_png(img, filter_type=f)) * 255.0 + 0.5).astype(np.uint8)
            assert np.array_equal(dec, img), (shape, f)

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    # hand-built palette PNG: PLTE-mapped indices come back as RGB
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([2, 1, 0])
    blob = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", pal) + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    d = _decode_png(blob)
    assert d.shape == (2, 3, 3) and np.allclose(d[0, 0], [1, 0, 0]) and np.allclose(d[1, 0], [0, 0, 1])

    # gray+alpha (ctype 4) and RGBA (ctype 6)
    for ct, ch in [(4, 2), (6, 4)]:
        px = rng.integers(0, 256, size=(2, 2, ch), dtype=np.uint8)
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(2))
        blob = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, ct, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        assert np.array_equal((_decode_png(blob) * 255 + 0.5).astype(np.uint8), px)

    # honest stubs: 16-bit depth and Adam7 interlace
    for hdr in [struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0),
                struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)]:
        blob = (sig + chunk(b"IHDR", hdr)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 12)) + chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError):
            _decode_png(blob)

    # fuzz: truncations and bit flips of a valid blob fail CLEANLY
    good = encode_png(rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8))
    bad_blobs = [good[:n] for n in (7, 12, 20, 33, len(good) - 5)]
    for i in range(10):
        b = bytearray(good)
        b[8 + (i * 37) % (len(good) - 8)] ^= 0xFF
        bad_blobs.append(bytes(b))
    ok = 0
    for b in bad_blobs:
        try:
            _decode_png(bytes(b))
            ok += 1  # a flip that misses load-bearing bytes may still parse
        except (ValueError, NotImplementedError):
            pass
    assert ok < len(bad_blobs)  # at least the truncations must reject

    # quarantine path end-to-end: corrupt blobs -> decode_error rows, job lives
    media = spark.createDataFrame(
        [("ok", good), ("trunc", good[:20]), ("flip", bytes(bad_blobs[-1]))],
        "media_id string, content binary")
    rows = {r.media_id: r for r in extract_media_features(media, out_dim=4).collect()}
    assert rows["ok"].decode_error is None and len(rows["ok"].feature) == 4
    assert rows["trunc"].feature is None and "PNG" in rows["trunc"].decode_error
    # fail-fast contract still available
    with pytest.raises(Exception):
        extract_media_features(media, out_dim=4, skip_corrupt=False).collect()
    # dispatch: decode_image routes the PNG signature to the real decoder
    assert decode_image(good).shape == (6, 6, 3)


def test_graphml_import_fuzz(spark):
    """VERDICT r4 #8: the GraphML importers fail CLEANLY on malformed
    input (ValueError, not a raw ParseError), reject entity-bomb DTDs
    fast, tolerate malformed numeric attributes, and skip id-less nodes
    — matching the quarantine contract of the other binary sources."""
    import time

    from agraph_spark.io import export_graphml, import_graphml, import_lightrag_graphml

    nodes = spark.createDataFrame(
        [("e1", "Acme", "organization", 0.9)],
        "entity_id string, name string, entity_type string, confidence double")
    edges = spark.createDataFrame(
        [("x1", "e1", "e1", "related_to", 0.7)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double")
    good = export_graphml(nodes, edges)

    bad_inputs = [
        "", "not xml at all", good[: len(good) // 2],           # truncations
        good.replace("</graphml>", ""),                          # unclosed root
        good.replace("<node", "<node <<<", 1),                   # attr garbage
        "<graphml><node id='a'>" + "\x00" + "</node></graphml>", # control char
    ]
    for bad in bad_inputs:
        for importer in (import_graphml, import_lightrag_graphml):
            with pytest.raises(ValueError, match="malformed GraphML"):
                importer(spark, bad)

    # entity bomb: rejected by declaration scan BEFORE any expansion
    bomb = ('<?xml version="1.0"?><!DOCTYPE g [<!ENTITY a "xx">'
            + "".join(f'<!ENTITY {c} "&{p};&{p};&{p};&{p};&{p};&{p};">'
                      for c, p in zip("bcdefghij", "abcdefghi"))
            + ']><graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
              '<node id="&j;"/></graphml>')
    t0 = time.time()
    with pytest.raises(ValueError, match="malformed GraphML"):
        import_graphml(spark, bomb)
    assert time.time() - t0 < 1.0  # rejected, not expanded

    # tolerated damage: bad weight -> default, id-less node skipped
    ml = ('<graphml xmlns="http://graphml.graphdrawing.org/xmlns"><graph>'
          '<node id="a"><data key="d0">A</data></node>'
          '<node><data key="d0">anon</data></node>'
          '<node id="b"/>'
          '<edge source="a" target="b"><data key="d3">NaNope</data></edge>'
          '</graph></graphml>')
    n, e = import_graphml(spark, ml)
    assert {r.entity_id for r in n.collect()} == {"a", "b"}
    assert e.first().confidence == 0.0
    lr = ml.replace('key="d3"', 'key="d6"')
    n2, e2 = import_lightrag_graphml(spark, lr)
    assert {r.entity_id for r in n2.collect()} == {"a", "b"}
    assert e2.first().confidence == 1.0  # lightrag default weight
