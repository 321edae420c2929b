"""Chunk CRUD surface (reference sdk t_chunk.py / chunk management API)."""

import pytest

from ragflow_core16_spark.pipeline.chunk_store import (add_chunks, chunk_row,
                                                       delete_chunks,
                                                       list_chunks,
                                                       update_chunk)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from ragflow_core16_spark.datagen.pages import pages_from_documents
    from ragflow_core16_spark.operators.extract import (chunks_table,
                                                        extract_pages)
    p = str(tmp_path_factory.mktemp("store") / "chunks")
    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(40)
    chunks_table(extract_pages(pages)).write.parquet(p)
    return p


class TestChunkStore:
    def test_list_paginated_deterministic(self, spark, store):
        p1 = list_chunks(spark, store, page=1, page_size=5).collect()
        p2 = list_chunks(spark, store, page=2, page_size=5).collect()
        assert len(p1) == 5 and len(p2) == 5
        assert {r.chunk_id for r in p1}.isdisjoint({r.chunk_id for r in p2})
        # stable ordering across invocations
        again = list_chunks(spark, store, page=1, page_size=5).collect()
        assert [r.chunk_id for r in again] == [r.chunk_id for r in p1]

    def test_keyword_filter(self, spark, store):
        rows = list_chunks(spark, store, keywords="the", page_size=1000)
        assert all("the" in r.chunk_text for r in rows.collect())

    def test_add_then_list(self, spark, store):
        r = chunk_row("https://example.org/manual", "a manually added chunk",
                      chunk_seq=0, lang="en")
        add_chunks(spark, store, [r])
        got = list_chunks(spark, store,
                          url="https://example.org/manual").collect()
        assert len(got) == 1
        assert got[0].chunk_id == r["chunk_id"]
        assert got[0].content_ltks  # tokenizer columns populated

    def test_chunk_id_parity_with_extraction(self, spark, store):
        from ragflow_core16_spark.textnorm.xxh64 import xxh64_hexdigest
        r = chunk_row("u1", "some text")
        assert r["chunk_id"] == xxh64_hexdigest("some textu1")

    def test_update_recomputes_id(self, spark, store):
        got = list_chunks(spark, store,
                          url="https://example.org/manual").collect()[0]
        new_id = update_chunk(spark, store, got.chunk_id, "replacement text")
        assert new_id != got.chunk_id
        after = list_chunks(spark, store,
                            url="https://example.org/manual").collect()
        assert len(after) == 1 and after[0].chunk_text == "replacement text"

    def test_delete(self, spark, store):
        got = list_chunks(spark, store,
                          url="https://example.org/manual").collect()
        n = delete_chunks(spark, store, [r.chunk_id for r in got])
        assert n == len(got)
        assert list_chunks(spark, store,
                           url="https://example.org/manual").count() == 0

    def test_delete_empty_and_missing_ids(self, spark, store):
        assert delete_chunks(spark, store, []) == 0
        assert delete_chunks(spark, store, ["nonexistent-id"]) == 0
        import os
        assert not os.path.exists(store + ".tmp")

    def test_failed_swap_leaves_store_unchanged(self, spark, store, tmp_path,
                                                monkeypatch):
        """The step that puts the kept rows in place of the store fails
        (a task of a write onto the store path, or the rename onto it):
        the store must stay readable with every row it had, and no temp
        or aside sibling may be left."""
        import errno
        import os
        import shutil

        from pyspark.sql import DataFrameWriter
        from pyspark.sql import functions as F
        mine = str(tmp_path / "chunks")
        shutil.copytree(store, mine)
        before = sorted(r.chunk_id for r in
                        spark.read.parquet(mine).select("chunk_id").collect())
        real_parquet, real_rename = DataFrameWriter.parquet, os.rename

        def parquet(self, path, *a, **kw):
            if os.path.abspath(path) != mine:
                return real_parquet(self, path, *a, **kw)
            bad = self._df.withColumn("chunk_id", F.raise_error(
                F.concat(F.lit("injected "), F.col("chunk_id")))
                .cast("string"))
            return real_parquet(bad.write.mode("overwrite"), path)

        def rename(src, dst):
            if dst == mine and ".tmp-" in src and not os.path.exists(mine):
                raise OSError(errno.EIO, "injected", dst)
            return real_rename(src, dst)

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", parquet)
            m.setattr(os, "rename", rename)
            with pytest.raises(Exception):
                delete_chunks(spark, mine, before[:2])
        after = sorted(r.chunk_id for r in
                       spark.read.parquet(mine).select("chunk_id").collect())
        assert after == before
        assert [d for d in os.listdir(tmp_path)
                if ".tmp" in d or ".aside-" in d] == []

    def test_delete_on_uri_store(self, spark, store, tmp_path):
        """A store addressed by a scheme-qualified path (as a warehouse on
        ``s3a://`` or ``hdfs://`` is) is rewritten on that filesystem."""
        import os
        import shutil
        mine = str(tmp_path / "uri" / "chunks")
        shutil.copytree(store, mine)
        ids = [r.chunk_id for r in spark.read.parquet(mine)
               .select("chunk_id").limit(2).collect()]
        n = spark.read.parquet(mine).count()
        assert delete_chunks(spark, "file:" + mine, ids) == 2
        left = spark.read.parquet(mine)
        assert left.count() == n - 2
        assert left.filter(left.chunk_id.isin(ids)).count() == 0
        assert os.listdir(tmp_path / "uri") == ["chunks"]
