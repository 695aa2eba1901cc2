"""Tests for date functions (§2.5), idspace compaction (O6), mention
linking (O7), frame dicts (O12), diffing (O15), multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_parse_creation_date(spark):
    from fastobo_py_spark.functions.dates import (
        creation_date_kind,
        creation_date_tz,
        parse_creation_date,
    )

    # shapes from the reference's own tests (tests/common.py:173-194)
    df = spark.createDataFrame(
        [("2021-01-23",), ("2021-01-23T12:00:00",), ("2021-01-23T12:00:00Z",), ("2021-01-23T12:00:00+02:00",), ("garbage",)],
        "raw string",
    ).select(
        "raw",
        creation_date_kind("raw").alias("kind"),
        creation_date_tz("raw").alias("tz"),
        parse_creation_date("raw").cast("string").alias("ts"),
    )
    rows = {r["raw"]: r for r in df.collect()}
    assert rows["2021-01-23"]["kind"] == "date"
    assert rows["2021-01-23"]["ts"] == "2021-01-23 00:00:00"
    assert rows["2021-01-23T12:00:00"]["kind"] == "datetime"
    assert rows["2021-01-23T12:00:00"]["tz"] is None
    assert rows["2021-01-23T12:00:00Z"]["kind"] == "datetime_tz"
    assert rows["2021-01-23T12:00:00Z"]["tz"] == "Z"
    assert rows["2021-01-23T12:00:00+02:00"]["tz"] == "+02:00"
    # session tz = UTC, so +02:00 shifts back two hours
    assert rows["2021-01-23T12:00:00+02:00"]["ts"] == "2021-01-23 10:00:00"
    assert rows["garbage"]["kind"] is None and rows["garbage"]["ts"] is None


def test_parse_header_date(spark):
    from fastobo_py_spark.functions.dates import format_header_date, parse_header_date

    df = spark.createDataFrame([("25:03:2019 16:28",)], "raw string").select(
        parse_header_date(F.col("raw")).alias("ts")
    )
    out = df.select(format_header_date(F.col("ts")).alias("rt")).collect()[0]["rt"]
    assert out == "25:03:2019 16:28"


def test_compaction_roundtrip(spark):
    from fastobo_py_spark.operators.idents import compact_url, decompact_prefixed

    df = spark.createDataFrame(
        [("CHEBI:27958",), ("http://purl.obolibrary.org/obo/CHEBI_27958",), ("plain",)], "ident string"
    ).select(
        "ident",
        compact_url(F.col("ident")).alias("compacted"),
        decompact_prefixed("ident").alias("decompacted"),
    )
    rows = {r["ident"]: r for r in df.collect()}
    # the doc.rs:219-234 round-trip example
    assert rows["http://purl.obolibrary.org/obo/CHEBI_27958"]["compacted"] == "CHEBI:27958"
    assert rows["CHEBI:27958"]["decompacted"] == "http://purl.obolibrary.org/obo/CHEBI_27958"
    assert rows["plain"]["compacted"] == "plain"


def test_compact_with_idspaces(spark, clauses):
    """pato docs declare idspace: PATO http://purl.obolibrary.org/obo/PATO_ —
    the URL is_a object must compact through the declaration (O6)."""
    from fastobo_py_spark.operators.idents import compact_with_idspaces
    from fastobo_py_spark.operators.triples import extract_edges

    edges = extract_edges(clauses.where(F.col("path").startswith("ontologies/pato")))
    urls = edges.where(F.col("obj").startswith("http://"))
    assert urls.count() > 0
    compacted = compact_with_idspaces(urls, "obj", clauses)
    assert compacted.where(F.col("obj").startswith("http://")).count() == 0
    assert compacted.where(F.col("obj").rlike("^PATO:")).count() == urls.count()


def test_link_mentions(spark, clauses):
    from fastobo_py_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [("m1", "Left"), ("m2", "struct 7"), ("m3", "no such thing")], "mid string, mention string"
    )
    out = link_mentions(mentions, clauses).collect()
    by_mid = {}
    for r in out:
        by_mid.setdefault(r["mid"], []).append(r)
    # plana-like docs declare synonym "struct N" EXACT
    assert any(r["id"] is not None for r in by_mid["m2"])
    assert all(r["id"] is None for r in by_mid["m3"])


def test_frame_dicts(spark, clauses):
    from fastobo_py_spark.operators.materialize import frame_dicts

    d = frame_dicts(clauses.where(F.col("frame_id") == "MS0:0000003"))
    row = d.collect()[0]
    m = row["clauses"]
    assert m["is_obsolete"] == ["true"]
    assert m["replaced_by"] == ["MS0:0000001"]
    assert "name" in m


def test_edge_diff(spark):
    from fastobo_py_spark.operators.diff import edge_diff

    old = spark.createDataFrame([("a", "is_a", "b"), ("c", "is_a", "d")], "subj string, pred string, obj string")
    new = spark.createDataFrame([("a", "is_a", "b"), ("e", "is_a", "f")], "subj string, pred string, obj string")
    changes = {(r["subj"], r["change"]) for r in edge_diff(old, new).collect()}
    assert changes == {("e", "added"), ("c", "removed")}


def test_frame_change_summary(spark, clauses):
    from fastobo_py_spark.operators.diff import frame_change_summary

    # diff the corpus against itself minus one frame, with one frame altered
    old = clauses
    new = clauses.where(F.col("frame_id") != "GO:0020000").withColumn(
        "value_text",
        F.when((F.col("frame_id") == "GO:0020001") & (F.col("tag") == "name"), F.lit("renamed")).otherwise(
            F.col("value_text")
        ),
    )
    ch = {r["id"]: r["change"] for r in frame_change_summary(old, new).collect()}
    assert ch["GO:0020000"] == "removed"
    assert ch["GO:0020001"] == "modified"
    assert ch["MS0:0000001"] == "unchanged"


def test_multimodal_features(spark):
    from fastobo_py_spark.operators.multimodal import extract_features, sample_frames, synth_media

    media = synth_media(spark, n=30)
    feats = extract_features(media, strict=False).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == 16 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])
    # deterministic: same payload -> same features
    again = {r["media_id"]: r["features"] for r in extract_features(media, strict=False).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in feats)
    frames = sample_frames(media, every_ms=5000)
    vid_rows = frames.groupBy("media_id").count().collect()
    assert len(vid_rows) == 10  # every 3rd media row is video


def test_lsh_bucketed_ann(spark):
    from fastobo_py_spark.operators.similarity import lsh_bucketed_topk, self_topk
    from fastobo_py_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = self_topk(emb, n_queries=10, k=3).collect()
    approx = lsh_bucketed_topk(emb, n_queries=10, k=3, n_planes=4).collect()
    # ANN returns a subset of queries (bucket may be sparse) and plausible ranks
    assert {r["rank"] for r in approx} <= {1, 2, 3}
    exact_best = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    hits = sum(1 for r in approx if r["rank"] == 1 and exact_best.get(r["query_id"]) == r["neighbor_id"])
    assert hits >= 1  # recall > 0 at 4 planes


def test_cardinality_violations(spark):
    from fastobo_py_spark.operators.parse import cardinality_violations, parse_corpus, split_parsed

    bad = "format-version: 1.2\n\n[Term]\nid: X:1\nname: first\nname: second\ndef: \"a\" []\n"
    df = spark.createDataFrame(
        [("r", "a.obo", "c", "OBO", bad)], "repo string, path string, commit string, lang string, content string"
    )
    cl, _ = split_parsed(parse_corpus(df))
    v = cardinality_violations(cl).collect()
    assert len(v) == 1
    assert (v[0]["frame_id"], v[0]["tag"], v[0]["n"]) == ("X:1", "name", 2)


def test_graph_json_roundtrip(spark, clauses):
    from fastobo_py_spark.operators.graphjson import dump_graph, load_graph
    from fastobo_py_spark.operators.materialize import build_nodes
    from fastobo_py_spark.operators.triples import extract_edges

    sub = clauses.where(F.col("path").startswith("ontologies/ms_0"))
    nodes = build_nodes(sub)
    edges = extract_edges(sub, include_xrefs=False)
    gj = dump_graph(nodes, edges)
    assert gj.count() == 1
    n2, e2 = load_graph(spark, gj)
    # node and edge sets survive the JSON round-trip (modulo compaction)
    assert n2.count() == nodes.count()
    got = {(r["subj"], r["pred"], r["obj"]) for r in e2.collect()}
    want = {(r["subj"], r["pred"], r["obj"]) for r in edges.collect()}
    assert got == want
    # and the JSON is valid obographs shape
    import json

    doc = json.loads(gj.collect()[0]["graph_json"])
    assert "graphs" in doc and "nodes" in doc["graphs"][0] and "edges" in doc["graphs"][0]


def test_frame_hash_duplicate_pair_not_cancelled(spark, clauses):
    """A frame losing a PAIR of identical clause lines must read as
    modified — a plain xor of row hashes cancels duplicates."""
    import pyspark.sql.types as T

    from fastobo_py_spark.obo.parser import CLAUSE_FIELDS
    from fastobo_py_spark.operators.diff import frame_change_summary

    schema = T.StructType(
        [T.StructField("doc_sha", T.StringType())]
        + [clauses.schema[f] for f in CLAUSE_FIELDS]
    )

    def rows(n_dup):
        base = {f: None for f in CLAUSE_FIELDS}
        out = []
        for i in range(1 + n_dup):
            r = dict(base, frame_type="Term", frame_id="X:1", frame_ix=0, clause_ix=i)
            r["tag"] = "id" if i == 0 else "subset"
            r["v1"] = "X:1" if i == 0 else "dup_subset"
            out.append(("sha" + "0" * 61,) + tuple(r[f] for f in CLAUSE_FIELDS))
        return spark.createDataFrame(out, schema)

    old = rows(n_dup=2)   # two identical 'subset: dup_subset' lines
    new = rows(n_dup=0)   # both gone
    ch = {r["id"]: r["change"] for r in frame_change_summary(old, new).collect()}
    assert ch["X:1"] == "modified"


def test_missing_clause_violations(spark, clauses):
    from fastobo_py_spark.operators.parse import missing_clause_violations

    v = missing_clause_violations(clauses, required=("name", "def"))
    rows = v.collect()
    assert all(r["missing_tag"] in ("name", "def") for r in rows)
    # pato-like terms carry no def: violations must exist and name never missing
    assert any(r["missing_tag"] == "def" for r in rows)
    assert not any(r["missing_tag"] == "name" for r in rows)


def test_ident_is_valid(spark):
    from pyspark.sql import functions as F

    from fastobo_py_spark.operators.idents import ident_is_valid

    cases = [
        ("MS:1000031", True),
        ("https://purl.obolibrary.org/obo/MS_1000031", True),
        ("related_to", True),
        ("definitely not an identifier", False),
        ("", False),
        ("a b:c", False),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "ident string")
    got = {r["ident"]: r["ok"] for r in df.select("ident", ident_is_valid("ident").alias("ok")).collect()}
    for s, want in cases:
        assert got[s] is want, s


def test_multimodal_strict_by_default(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    from fastobo_py_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=3)
    with pytest.raises(Exception) as ei:
        extract_features(media).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_owl_functional_dump(spark, clauses):
    from fastobo_py_spark.operators.owl import dump_owl_functional

    docs = {r["doc_sha"]: r["owl_text"] for r in dump_owl_functional(clauses).collect()}
    assert len(docs) == 40
    for text in docs.values():
        assert text.startswith("Prefix(owl:=")
        assert "Ontology(<http" in text
        # URL-shaped ontology headers (plana family) pass through; only
        # bare names get the PURL prefix — never both (the double-prefix bug)
        assert "obo/http://" not in text
        assert text.rstrip().endswith(")")
        assert "Declaration(" in text
    assert any("Ontology(<http://purl.obolibrary.org/obo/ms" in t for t in docs.values())
    assert any("Ontology(<http://purl.obolibrary.org/obo>" in t for t in docs.values())
    one = next(t for t in docs.values() if "NamedIndividual" in t)
    assert "ClassAssertion(" in one
    assert "SubClassOf(" in one


def test_graph_yaml_roundtrip(spark, clauses):
    """YAML variant of load_graph/dump_graph (reference accepts both,
    src/py/mod.rs:333-365): node/edge sets survive the YAML hop and the
    payload really is YAML (not JSON smuggled through)."""
    from fastobo_py_spark.operators.graphjson import dump_graph_yaml, load_graph_yaml
    from fastobo_py_spark.operators.materialize import build_nodes
    from fastobo_py_spark.operators.triples import extract_edges

    sub = clauses.where(F.col("path").startswith("ontologies/ms_0"))
    nodes = build_nodes(sub)
    edges = extract_edges(sub, include_xrefs=False)
    gy = dump_graph_yaml(nodes, edges)
    rows = gy.collect()
    assert len(rows) == 1
    import yaml

    doc = yaml.safe_load(rows[0]["graph_yaml"])
    assert "graphs" in doc and "nodes" in doc["graphs"][0]
    assert not rows[0]["graph_yaml"].lstrip().startswith("{")

    n2, e2 = load_graph_yaml(spark, gy)
    assert n2.count() == nodes.count()
    got = {(r["subj"], r["pred"], r["obj"]) for r in e2.collect()}
    want = {(r["subj"], r["pred"], r["obj"]) for r in edges.collect()}
    assert got == want


def test_owl_owx_dump(spark, clauses):
    """owx (OWL/XML) sibling of the functional dump: well-formed XML,
    same per-kind axiom census as the functional renderer."""
    import xml.etree.ElementTree as ET

    from fastobo_py_spark.operators.owl import dump_owl_owx, owl_axioms, owl_axioms_owx

    docs = {r["doc_sha"]: r["owl_xml"] for r in dump_owl_owx(clauses).collect()}
    assert len(docs) == 40
    for text in docs.values():
        root = ET.fromstring(text)  # raises on malformed XML
        assert root.tag.endswith("Ontology")
        iri = root.attrib["ontologyIRI"]
        # URL-shaped ontology headers pass through; bare names get the
        # PURL prefix — never both (the double-prefix bug)
        assert iri.startswith("http") and "obo/http://" not in iri

    fn = {
        (r["kind"], r["n"]) for r in
        owl_axioms(clauses).groupBy(F.substring_index("axiom", "(", 1).alias("kind")).agg(
            F.count("*").alias("n")).collect()
    }
    ox = {
        (r["kind"], r["n"]) for r in
        owl_axioms_owx(clauses).groupBy("kind").agg(F.count("*").alias("n")).collect()
    }
    assert fn == ox and fn


def test_owl_rdf_dump(spark, clauses):
    """RDF/XML sibling of the OWL dumps: well-formed XML, same per-kind
    axiom census as the functional and owx renderers."""
    import xml.etree.ElementTree as ET

    from fastobo_py_spark.operators.owl import dump_owl_rdf, owl_axioms, owl_axioms_rdf

    docs = {r["doc_sha"]: r["owl_rdf"] for r in dump_owl_rdf(clauses).collect()}
    assert len(docs) == 40
    for text in docs.values():
        root = ET.fromstring(text)  # raises on malformed XML
        assert root.tag.endswith("RDF")

    fn = {
        (r["kind"], r["n"]) for r in
        owl_axioms(clauses).groupBy(F.substring_index("axiom", "(", 1).alias("kind")).agg(
            F.count("*").alias("n")).collect()
    }
    rdf = {
        (r["kind"], r["n"]) for r in
        owl_axioms_rdf(clauses).groupBy("kind").agg(F.count("*").alias("n")).collect()
    }
    assert fn == rdf and fn


def test_png_codec_roundtrip_all_color_types():
    """encode (filter cycled per scanline) → decode recovers the exact
    pixel buffer for gray / RGB / RGBA / gray+alpha; >=5 rows so every
    filter type (None/Sub/Up/Average/Paeth) is exercised."""
    from fastobo_py_spark.operators.png_codec import decode_png, encode_png

    for ch in (1, 2, 3, 4):
        w, h = 11, 7
        pix = bytes((x * 3 + y * 17 + c * 29) % 256 for y in range(h) for x in range(w) for c in range(ch))
        got_w, got_h, got_ch, got = decode_png(encode_png(w, h, ch, pix))
        assert (got_w, got_h, got_ch) == (w, h, ch)
        assert bytes(got) == pix


def test_png_codec_rejects_garbage():
    import struct
    import zlib

    import pytest

    from fastobo_py_spark.operators.png_codec import decode_png, encode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # 16-bit depth: valid container, unsupported subset
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_data = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    body = b"IHDR" + ihdr_data
    bad = sig + struct.pack(">I", len(ihdr_data)) + body + struct.pack(">I", zlib.crc32(body))
    with pytest.raises(ValueError):
        decode_png(bad)
    # truncated IDAT → ValueError (the documented contract: corrupt
    # containers never leak zlib/struct errors to callers)
    ok = bytearray(encode_png(3, 3, 1, bytes(range(9))))
    with pytest.raises(ValueError):
        decode_png(bytes(ok[:-20]))
    # truncated mid-IHDR → ValueError, not struct.error
    ihdr_trunc = struct.pack(">IIB", 2, 2, 8)
    body2 = b"IHDR" + ihdr_trunc
    bad2 = sig + struct.pack(">I", len(ihdr_trunc)) + body2 + struct.pack(">I", zlib.crc32(body2))
    with pytest.raises(ValueError):
        decode_png(bad2)


def test_real_decode_strict_without_pillow(spark):
    """Valid PNGs through the STRICT kernel must produce real features in
    this Pillow-less container (the vendored decoder carries the branch);
    deterministic across runs."""
    from fastobo_py_spark.operators.multimodal import extract_features, synth_png_media

    media = synth_png_media(spark, n=6)
    feats = {
        r["media_id"]: r["features"]
        for r in extract_features(media, dim=8, codec="png").collect()
    }
    assert len(feats) == 6
    assert all(len(v) == 8 and all(0.0 <= x <= 1.0 for x in v) for v in feats.values())
    again = {
        r["media_id"]: r["features"]
        for r in extract_features(media, dim=8, codec="png").collect()
    }
    assert feats == again
    # auto dispatch also succeeds here (vendored fallback; would be
    # Pillow's bicubic features on a Pillow-equipped host)
    assert extract_features(media, dim=8).count() == 6


def test_ragged_batch_malformed_row_is_isolated(spark):
    """One over-length malformed vector in a batch must NOT null-bucket
    the normal-dim vectors sharing its Arrow batch (ADVICE r4): the
    reference dim is the batch's modal length, so only the malformed row
    gets a NULL bucket / NULL cells."""
    from fastobo_py_spark.operators.similarity import (
        _ragged_ref_dim,
        cells_udf,
        signature_udf,
    )

    assert _ragged_ref_dim([4, 4, 4, 7]) == 4
    assert _ragged_ref_dim([4, 7]) == 4  # tie -> smaller dim, deterministic
    assert _ragged_ref_dim([]) == 0

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(6)]
    rows.append((6, [1.0] * 7))  # malformed: over-length
    rows.append((7, None))  # malformed: null
    df = spark.createDataFrame(rows, "vec_id int, v array<double>").coalesce(1)
    got = {
        r["vec_id"]: (r["b"], r["c"])
        for r in df.select(
            "vec_id",
            signature_udf(4)(F.col("v")).alias("b"),
            cells_udf(8, 2)(F.col("v")).alias("c"),
        ).collect()
    }
    for i in range(6):
        assert got[i][0] is not None and got[i][1] is not None
    assert got[6] == (None, None)
    assert got[7] == (None, None)
    # and the normal rows' buckets equal the ones from a clean batch
    clean = {
        r["vec_id"]: (r["b"], r["c"])
        for r in spark.createDataFrame(rows[:6], "vec_id int, v array<double>")
        .coalesce(1)
        .select(
            "vec_id",
            signature_udf(4)(F.col("v")).alias("b"),
            cells_udf(8, 2)(F.col("v")).alias("c"),
        )
        .collect()
    }
    assert all(got[i] == clean[i] for i in range(6))


def test_trained_anchors_ragged_batch_uses_anchor_dim(spark):
    """With an EXPLICIT quantizer the reference dim is anchors.shape[1],
    not the batch's modal length (code-review r5): a batch where
    malformed wrong-dim rows OUTNUMBER the valid ones must still bucket
    every valid vector; only the malformed rows get NULL cells."""
    import numpy as np

    from fastobo_py_spark.operators.similarity import cells_udf, ivf_anchors

    anchors = ivf_anchors(8, 4, seed=11)
    rows = [(i, [1.0] * 4) for i in range(4)]  # malformed dim-4 majority
    rows += [(10, [float(j) for j in range(8)]), (11, [float(8 - j) for j in range(8)])]
    df = spark.createDataFrame(rows, "vec_id int, v array<double>").coalesce(1)
    got = {
        r["vec_id"]: r["c"]
        for r in df.select("vec_id", cells_udf(4, 2, anchors=anchors)(F.col("v")).alias("c")).collect()
    }
    assert got[10] is not None and got[11] is not None
    for i in range(4):
        assert got[i] is None
    # cells equal the clean-batch assignment (batch-composition invariant)
    clean = {
        r["vec_id"]: r["c"]
        for r in spark.createDataFrame(rows[4:], "vec_id int, v array<double>")
        .coalesce(1)
        .select("vec_id", cells_udf(4, 2, anchors=anchors)(F.col("v")).alias("c"))
        .collect()
    }
    assert got[10] == clean[10] and got[11] == clean[11]


def test_pillow_branch_with_stub_pil(monkeypatch):
    """Execute the Pillow codec branch (dead-until-deployment in this
    container, VERDICT r4) by injecting a stub PIL module: the branch's
    grayscale→resize→column-mean contract and its precedence over the
    vendored PNG / fake paths under codec='auto'."""
    import sys
    import types

    import numpy as np

    from fastobo_py_spark.operators.multimodal import _decode_features, _pil_image_features

    opened = {}

    class _FakeImg:
        def __init__(self, arr):
            self._a = arr

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, size):
            w, h = size
            # deterministic: column j has constant luma j*255/(w-1)
            col = np.linspace(0, 255, w).astype("uint8")
            return _FakeImg(np.tile(col, (h, 1)))

        def __array__(self, dtype=None, copy=None):
            a = self._a
            return a.astype(dtype) if dtype is not None else a

    def _open(fh):
        opened["payload"] = fh.read()
        return _FakeImg(np.zeros((2, 2), dtype="uint8"))

    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace(open=_open)
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil.Image)

    dim = 8
    feats = _pil_image_features(b"png-ish-bytes", dim)
    assert opened["payload"] == b"png-ish-bytes"
    assert len(feats) == dim
    expect = [float(v) / 255.0 for v in np.linspace(0, 255, dim).astype("uint8")]
    assert feats == pytest.approx(expect)

    # codec='auto' must prefer the (stub) Pillow branch over PNG/fake
    via_dispatch = _decode_features(b"png-ish-bytes", "image", dim, strict=True, codec="auto")
    assert via_dispatch == pytest.approx(expect)
    # non-image kinds never touch PIL: strict policy still raises
    with pytest.raises(NotImplementedError):
        _decode_features(b"audio-bytes", "audio", dim, strict=True)


def test_kmeans_ivf_training():
    """Trained IVF quantizer: deterministic, spherical objective monotone
    over Lloyd iterations on the training sample, and a strictly better
    quantizer than the seeded random anchors on the full table (measured
    0.309 vs 0.219 mean max-cosine at sf0.01 — the reason the trained
    path exists)."""
    import numpy as np
    import pyarrow.parquet as pq

    from fastobo_py_spark.operators.similarity import (
        ivf_anchors,
        kmeans_centroids,
        train_ivf_anchors,
    )

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()
    mat = np.stack([np.asarray(x, dtype="float64") for x in t.sort_values("vec_id")["embedding"]])
    v = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    train = v[:256]

    def obj(c, data):
        return float(np.max(data @ c.T, axis=1).mean())

    # determinism: same sample + params -> bit-identical centroids
    a = kmeans_centroids(mat[:256], 16)
    b = kmeans_centroids(mat[:256], 16)
    assert np.array_equal(a, b)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)

    # Lloyd monotonicity on the training sample
    objs = [obj(kmeans_centroids(mat[:256], 16, iters=i), train) for i in range(0, 8)]
    assert all(o2 >= o1 - 1e-12 for o1, o2 in zip(objs, objs[1:])), objs

    # trained beats the random quantizer on the FULL table
    trained = train_ivf_anchors("/root/testdata/sf0.01", n_cells=16, train_n=256)
    assert np.array_equal(trained, a)  # train_ivf_anchors == kmeans on the prefix
    rand = ivf_anchors(mat.shape[1], 16, seed=11)
    assert obj(trained, v) > obj(rand, v) + 0.05

    # guard rails
    with pytest.raises(ValueError):
        kmeans_centroids(mat[:8], 16)  # fewer vectors than cells


def test_pii_scrub_semantics(spark):
    """pii_scrub: fixed-order redaction, idempotent (replacement tokens
    match none of the patterns), clean text untouched."""
    from pyspark.sql import functions as F

    from fastobo_py_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            ("mail a.b+c@ex.org ip 10.1.2.3 acct 123456789 end",),
            ("clean text, no pii at all",),
            ("short digits 12345678 and 999.9.9.9999 odd",),
        ],
        "t string",
    )
    once = [r["s"] for r in df.select(pii_scrub(F.col("t")).alias("s")).collect()]
    assert once[0] == "mail <EMAIL> ip <IP> acct <NUM> end"
    assert once[1] == "clean text, no pii at all"
    # 8 digits: below the long-run threshold; 999.9.9.9999 is not a
    # \b-delimited IPv4 (last octet 4 digits) — 999.9.9.999 inside it IS
    # matched by the 1-3-digit pattern? No: \b after '999' fails (next
    # char is '9'), so the whole token survives.
    assert once[2] == "short digits 12345678 and 999.9.9.9999 odd"
    again = [
        r["s"]
        for r in spark.createDataFrame([(s,) for s in once], "t string")
        .select(pii_scrub(F.col("t")).alias("s"))
        .collect()
    ]
    assert again == once


def test_asof_join_semantics(spark):
    """asof_join: strictly-prior match, same-instant rows excluded when
    strict (included when strict=False), no-match rows kept with NULL
    payload, and every left row survives exactly once."""
    from fastobo_py_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 200), (3, "u", 50), (4, "v", 500)],
        "event_id long, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [("u", 10, 60), ("u", 11, 100), ("u", 12, 150), ("w", 13, 1)],
        "user_id string, click_id long, click_ts long",
    )
    strict = {
        r["event_id"]: r["click_id"]
        for r in asof_join(left, right, ["user_id"], "ts", "click_ts").collect()
    }
    # ts=100: the same-instant click 11 is EXCLUDED -> most recent is 10 (ts 60)
    assert strict == {1: 10, 2: 12, 3: None, 4: None}
    loose = {
        r["event_id"]: r["click_id"]
        for r in asof_join(left, right, ["user_id"], "ts", "click_ts", strict=False).collect()
    }
    assert loose == {1: 11, 2: 12, 3: None, 4: None}
    # collision contract is explicit, not silent suffixing
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collision"):
        asof_join(left, left.withColumnRenamed("event_id", "x"), ["user_id"], "ts", "ts")
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(
            left.withColumn("_asof_ts", F.lit(1)),
            right,
            ["user_id"],
            "ts",
            "click_ts",
        )


def test_asof_join_null_semantics(spark):
    """NULL join keys never match (equi-join semantics) and NULL right
    timestamps are never 'most recent prior' (code-review r5, both
    reproduced against DuckDB's ASOF): such right rows are dropped;
    left rows keep LEFT-join semantics (retained, NULL payload)."""
    from fastobo_py_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, None, 100), (2, "u", 100), (3, "u", None)],
        "event_id long, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [(None, 9, 50), ("u", 7, None), ("u", 8, 60)],
        "user_id string, click_id long, click_ts long",
    )
    got = {
        r["event_id"]: r["click_id"]
        for r in asof_join(left, right, ["user_id"], "ts", "click_ts").collect()
    }
    # NULL-key left row: no match (never click 9); NULL-ts click 7 never
    # matches; NULL-ts left row: no match
    assert got == {1: None, 2: 8, 3: None}


def test_asof_join_matched_row_stays_whole(spark):
    """The matched right row's payload must come back AS A ROW, even when
    one of its values is genuinely NULL — per-column last(ignorenulls)
    would backfill the NULL from an OLDER right row, emitting a
    combination that exists on neither side (code-review r5)."""
    from fastobo_py_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "u", 100)], "event_id long, user_id string, ts long")
    right = spark.createDataFrame(
        [("u", 5, "rich", 50), ("u", 6, None, 60)],
        "user_id string, click_id long, label string, click_ts long",
    )
    row = asof_join(left, right, ["user_id"], "ts", "click_ts").collect()[0]
    # match is the ts=60 row: click_id=6 with its OWN NULL label — not
    # label='rich' torn off the ts=50 row
    assert (row["click_id"], row["label"], row["click_ts"]) == (6, None, 60)


def test_corpus_shaping_semantics(spark):
    """chunk coverage/overlap math, sample_threshold clamping (an
    unclamped 256 would lpad-truncate '100'→'10' and keep ~6% instead of
    all), and stratified_sample's stated contract: missing stratum =
    rate 0, duplicate stratum rows = highest rate wins."""
    from pyspark.sql import functions as F

    from fastobo_py_spark.operators.text import chunk, sample_threshold, stratified_sample

    # chunk: exactly-one chunk for short/empty/NULL docs (a NULL text is
    # the empty string); full coverage with the stated overlap for a long
    # one (len 500, size 200, stride 160 → n = 1+ceil(300/160) = 3; last
    # chunk holds 500-320=180 chars)
    docs = spark.createDataFrame(
        [(1, "x" * 500), (2, "hi"), (3, ""), (4, None)], "doc_id long, text string"
    )
    rows = chunk(docs, size=200, stride=160).collect()
    got = {(r["doc_id"], r["chunk_id"]): r["chunk_len"] for r in rows}
    assert got == {(1, 0): 200, (1, 1): 200, (1, 2): 180, (2, 0): 2, (3, 0): 0, (4, 0): 0}
    md5 = {r["doc_id"]: r["chunk_md5"] for r in rows if r["doc_id"] in (3, 4)}
    assert md5[3] == md5[4] == "d41d8cd98f00b204e9800998ecf8427e"
    # the text_chunks DuckDB oracle chunks the same fixture the same way
    import duckdb

    from fastobo_py_spark.contract import compare
    from fastobo_py_spark.queries.text import SQL_TEXT_CHUNKS

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    ok, msg = compare(chunk(docs, size=200, stride=160), con, SQL_TEXT_CHUNKS)
    con.close()
    assert ok, msg

    # threshold clamping at both ends; interior value is 2-hex
    rates = spark.createDataFrame(
        [(-5,), (0,), (16,), (255,), (256,), (999,)], "r int"
    )
    cuts = [r["c"] for r in rates.select(sample_threshold(F.col("r")).alias("c")).collect()]
    assert cuts == ["00", "00", "10", "ff", "g", "g"]

    # rate>=256 keeps EVERY document; missing stratum keeps none;
    # duplicate stratum rows resolve to the highest rate
    docs2 = spark.createDataFrame(
        [(i, "keep_all" if i % 2 else "unknown") for i in range(40)],
        "doc_id long, source string",
    )
    rdim = spark.createDataFrame(
        [("keep_all", 3), ("keep_all", 256)], "stratum string, rate_per_256 int"
    )
    kept = stratified_sample(docs2, rdim).select("doc_id", "source").collect()
    assert {r["source"] for r in kept} == {"keep_all"}
    assert len(kept) == 20  # every keep_all doc survives via the max-rate row


def test_ngram_jaccard_shuffle_fallback_identical(spark, monkeypatch):
    """The r6 array-intersection rewrite of ngram_jaccard_pairs uses
    size-gated broadcasts for the two set joins (and the candidate
    pipeline's est joins). Above the gate the joins must degrade to the
    shuffle plan with IDENTICAL values — forced here by zeroing the
    broadcast row threshold, the path a 100 TB corpus would take."""
    from fastobo_py_spark.operators import hints
    from fastobo_py_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )

    def run():
        return sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs).collect()
        )

    broadcast = run()
    monkeypatch.setattr(hints, "BROADCAST_ROW_THRESHOLD", 0)
    fallback = run()
    assert broadcast and broadcast == fallback  # bit-equal doubles, same pairs


def test_ngram_jaccard_builds_one_signature_table(spark, monkeypatch):
    """ngram_jaccard_pairs takes the gate's row count from the signature
    table behind its candidates; a second memo lookup would, when the
    memo cannot key the input, build and persist a second table that
    nothing unpersists."""
    from fastobo_py_spark.operators import dedup

    built = []
    real = dedup._memo_signatures

    def counting(documents):
        built.append(real(documents))
        return built[-1]

    monkeypatch.setattr(dedup, "_memo_signatures", counting)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "lorem ipsum dolor sit")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(docs).collect()
    assert len(built) == 1
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in pairs] == [(1, 2, 1.0)]
