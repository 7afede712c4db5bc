"""End-to-end curation job: scrub → quality → dedup clusters →
survivors → lang-partitioned parquet."""

import os

from pyspark.sql import functions as F

from yelp_data_pipeline_spark import pipelines
from yelp_data_pipeline_spark.operators import dedup as dd
from yelp_data_pipeline_spark.operators import textops as tx
from yelp_data_pipeline_spark.session import release_tracked
from yelp_data_pipeline_spark.tables import load_table

from conftest import SF_DIR


def test_curate_documents_job(spark, tmp_path):
    out_dir = str(tmp_path / "curated")
    curated = pipelines.curate_documents_job(spark, SF_DIR, out_dir)
    rows = curated.collect()
    assert 0 < len(rows) < 500  # filtered, but not emptied

    # (1) partitioned layout on disk: one dir per language
    langs = {d for d in os.listdir(out_dir) if d.startswith("lang=")}
    assert len(langs) >= 2

    # (2) near-dup losers are gone: for every surviving pair partner,
    # at most one endpoint remains
    docs = load_table(spark, SF_DIR, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=12, bands=4, threshold=0.8)
    kept = {r["doc_id"] for r in rows}
    for p in pairs.collect():
        assert not (p["doc_a"] in kept and p["doc_b"] in kept)

    # (3) quality gate held
    q = {
        r["doc_id"]: r["quality_score"]
        for r in tx.quality_features(docs, "doc_id", "text").collect()
    }
    assert all(q[d] >= 0.45 for d in kept)

    # (4) text went through the scrubber (column renamed, no raw drop)
    assert "scrubbed_text" in curated.columns and "text" not in curated.columns

    # (5) reading one partition prunes: filter on lang matches dir content
    one_lang = sorted(langs)[0].split("=", 1)[1]
    pruned = spark.read.parquet(out_dir).filter(F.col("lang") == one_lang)
    n_dir = spark.read.parquet(f"{out_dir}/lang={one_lang}").count()
    assert pruned.count() == n_dir > 0

    # The job leaves its held frames to its driver: the returned plan
    # reads them until released here.
    release_tracked()
