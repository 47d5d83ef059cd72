"""Shard-merge exactness: merge(build(A), build(B)) == build(A ∪ B).

The merge combines shards at the counts level and recomputes only the
collection-global stages, so the merged index must be BITWISE identical to
a single-shot build of the concatenated corpus — same scores, impacts,
segment table, and top-k (plans/merge.py invariant).
"""

import pytest
from pyspark.sql import functions as F

from jassv2_spark.fixtures import synthetic_corpus, synthetic_queries
from jassv2_spark.operators.build import BuildConf, build_index
from jassv2_spark.operators.search import search
from jassv2_spark.plans.merge import (
    add_docs,
    delete_docs,
    delete_docs_build_dir,
    merge_build_dirs,
    merge_indexes,
)
from jassv2_spark.plans.persist import build_index_persisted, stage_done


@pytest.fixture(scope="module")
def corpus(spark):
    rows = synthetic_corpus(180)
    return spark.createDataFrame(
        [(i + 1, r["url"], r["text"]) for i, r in enumerate(rows)],
        ["doc_id", "url", "text"],
    )


@pytest.fixture(scope="module")
def direct(corpus):
    """The in-memory build of the whole corpus, keyed by its own doc ids:
    the index every maintenance path over that corpus must equal, and the
    base of the in-memory deletes. Tests only read it."""
    return build_index(corpus, text_col="text", key_col="doc_id", doc_id_col="doc_id")


@pytest.fixture(scope="module")
def build_dirs(spark, corpus, tmp_path_factory):
    """Persisted builds of the corpus's even docs ("a"), odd docs ("b") and
    all docs ("d"), shared by the build-dir tests; each test writes only
    its own output dirs. Maps name → (dir, loaded index)."""
    root = tmp_path_factory.mktemp("build_dirs")
    out = {}
    for name, frame in (
        ("a", corpus.filter(F.col("doc_id") % 2 == 0)),
        ("b", corpus.filter(F.col("doc_id") % 2 == 1)),
        ("d", corpus),
    ):
        out[name] = (str(root / name), build_index_persisted(
            frame, str(root / name), text_col="text", key_col="doc_id",
            doc_id_col="doc_id",
        ))
    return out


def _segments_sorted(idx):
    return sorted(
        (r["term"], r["impact"], r["min_doc"], r["part_freq"], tuple(r["doc_ids"]))
        for r in idx.segments.collect()
    )


def _topk(idx, spark, queries, k=10):
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["rsv"])
        for r in search(idx, qdf, k=k, with_keys=False).collect()
    )


def test_merge_disjoint_ids_equals_direct_build(spark, corpus, direct):
    even = corpus.filter(F.col("doc_id") % 2 == 0)
    odd = corpus.filter(F.col("doc_id") % 2 == 1)
    a = build_index(even, text_col="text", key_col="doc_id", doc_id_col="doc_id")
    b = build_index(odd, text_col="text", key_col="doc_id", doc_id_col="doc_id")
    merged = merge_indexes([a, b])

    assert merged.n_docs == direct.n_docs
    assert merged.collection_length == direct.collection_length
    assert merged.mean_doc_length == direct.mean_doc_length  # bitwise
    assert (merged.min_rsv, merged.max_rsv) == (direct.min_rsv, direct.max_rsv)
    assert _segments_sorted(merged) == _segments_sorted(direct)
    queries = synthetic_queries(8)
    assert _topk(merged, spark, queries) == _topk(direct, spark, queries)


def test_merge_rekey_equals_direct_build(spark, corpus):
    # shards ingested independently: each assigns its OWN dense ids by url,
    # so raw ids collide across shards; rekey=True re-ranks over the union
    docs = corpus.select("url", "text")
    half_a = docs.filter(F.substring(F.xxhash64("url").cast("string"), -1, 1).isin(
        *"02468"))
    half_b = docs.subtract(half_a)
    a = build_index(half_a, text_col="text", key_col="url")
    b = build_index(half_b, text_col="text", key_col="url")
    merged = merge_indexes([a, b], rekey=True)
    direct = build_index(docs, text_col="text", key_col="url")

    assert merged.n_docs == direct.n_docs
    assert (merged.min_rsv, merged.max_rsv) == (direct.min_rsv, direct.max_rsv)
    assert _segments_sorted(merged) == _segments_sorted(direct)
    queries = synthetic_queries(6)
    assert _topk(merged, spark, queries) == _topk(direct, spark, queries)
    # merged doc_map must be exactly the direct build's key→id assignment
    assert sorted(map(tuple, merged.doc_map.collect())) == sorted(
        map(tuple, direct.doc_map.collect())
    )


def test_delete_docs_equals_build_of_survivors(spark, corpus, direct):
    full = direct
    doomed = corpus.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    after = delete_docs(full, doomed)
    survivors = build_index(corpus.filter(F.col("doc_id") % 5 != 0),
                            text_col="text", key_col="doc_id", doc_id_col="doc_id")

    assert after.n_docs == survivors.n_docs
    assert after.collection_length == survivors.collection_length
    assert after.mean_doc_length == survivors.mean_doc_length  # bitwise
    assert (after.min_rsv, after.max_rsv) == (survivors.min_rsv, survivors.max_rsv)
    assert _segments_sorted(after) == _segments_sorted(survivors)
    queries = synthetic_queries(8)
    assert _topk(after, spark, queries) == _topk(survivors, spark, queries)


def test_delete_docs_accepts_iterable_and_ignores_unknown(spark, direct):
    full = direct
    after = delete_docs(full, [1, 2, 3, 999_999])
    assert after.n_docs == full.n_docs - 3
    assert after.doc_map.filter(F.col("doc_id").isin(1, 2, 3)).count() == 0


def test_delete_docs_requires_counts(spark, corpus):
    full = build_index(corpus, text_col="text", key_col="doc_id", doc_id_col="doc_id",
                       cache=False)
    with pytest.raises(ValueError, match="counts"):
        delete_docs(full, [1])


def test_add_docs_equals_direct_build(spark, corpus, direct):
    old = corpus.filter(F.col("doc_id") <= 120)
    new = corpus.filter(F.col("doc_id") > 120)
    base = build_index(old, text_col="text", key_col="doc_id", doc_id_col="doc_id")
    grown = add_docs(base, new, text_col="text", key_col="doc_id", doc_id_col="doc_id")

    assert grown.n_docs == direct.n_docs
    assert (grown.min_rsv, grown.max_rsv) == (direct.min_rsv, direct.max_rsv)
    assert _segments_sorted(grown) == _segments_sorted(direct)
    queries = synthetic_queries(6)
    assert _topk(grown, spark, queries) == _topk(direct, spark, queries)


def test_add_docs_auto_offset_ids(spark, corpus):
    # no doc_id_col: the new shard's dense ids are offset past the old max,
    # so ids never collide and every new doc is searchable
    old = corpus.filter(F.col("doc_id") <= 150)
    new = corpus.filter(F.col("doc_id") > 150).select("url", "text")
    base = build_index(old, text_col="text", key_col="doc_id", doc_id_col="doc_id")
    grown = add_docs(base, new, text_col="text", key_col="url")
    assert grown.n_docs == base.n_docs + new.count()
    ids = [r[0] for r in grown.doc_map.select("doc_id").collect()]
    assert len(ids) == len(set(ids))


def test_merge_conf_mismatch_raises(spark, corpus):
    a = build_index(corpus, text_col="text", key_col="doc_id", doc_id_col="doc_id",
                    conf=BuildConf(k1=0.9))
    b = build_index(corpus, text_col="text", key_col="doc_id", doc_id_col="doc_id",
                    conf=BuildConf(k1=1.2))
    with pytest.raises(ValueError, match="differs"):
        merge_indexes([a, b])


def test_merge_requires_counts(spark, corpus):
    a = build_index(corpus, text_col="text", key_col="doc_id", doc_id_col="doc_id",
                    cache=False)
    with pytest.raises(ValueError, match="counts"):
        merge_indexes([a])


def test_delete_build_dir_equals_direct_persisted(spark, corpus, build_dirs, tmp_path):
    src = build_dirs["d"][0]  # the whole corpus
    doomed = [r[0] for r in corpus.select("doc_id")
              .filter(F.col("doc_id") % 4 == 0).collect()]
    after = delete_docs_build_dir(spark, src, str(tmp_path / "del"), doomed)
    direct = build_index_persisted(
        corpus.filter(F.col("doc_id") % 4 != 0), str(tmp_path / "d2"),
        text_col="text", key_col="doc_id", doc_id_col="doc_id",
    )
    assert after.n_docs == direct.n_docs
    assert (after.min_rsv, after.max_rsv) == (direct.min_rsv, direct.max_rsv)
    assert _segments_sorted(after) == _segments_sorted(direct)
    queries = synthetic_queries(6)
    assert _topk(after, spark, queries) == _topk(direct, spark, queries)
    # the seeded stages are checkpointed: re-running resumes, same index
    again = delete_docs_build_dir(spark, src, str(tmp_path / "del"), doomed)
    assert _segments_sorted(again) == _segments_sorted(direct)


def test_merge_build_dirs_equals_direct_persisted(spark, build_dirs, tmp_path):
    shards = [build_dirs["a"][0], build_dirs["b"][0]]  # even and odd docs
    merged = merge_build_dirs(spark, shards, str(tmp_path / "m"))
    direct = build_dirs["d"][1]

    assert merged.n_docs == direct.n_docs
    assert (merged.min_rsv, merged.max_rsv) == (direct.min_rsv, direct.max_rsv)
    assert _segments_sorted(merged) == _segments_sorted(direct)
    queries = synthetic_queries(6)
    assert _topk(merged, spark, queries) == _topk(direct, spark, queries)
    # the merge seeded the tokenizer-stage checkpoints and is itself resumable
    for stage in ("doc_map", "counts", "segments"):
        assert stage_done(str(tmp_path / "m"), stage)
    # rerunning the merge is a no-op resume (markers untouched → same index)
    again = merge_build_dirs(spark, shards, str(tmp_path / "m"))
    assert _segments_sorted(again) == _segments_sorted(direct)


def test_merge_build_dirs_rekey_equals_direct_persisted(spark, corpus, tmp_path):
    # shards built with doc_id_col=None each assign their OWN dense ids by
    # url, so raw ids collide; rekey=True re-ranks over the union
    docs = corpus.select("url", "text")
    half_a = docs.filter(F.substring(F.xxhash64("url").cast("string"), -1, 1).isin(
        *"02468"))
    half_b = docs.subtract(half_a)
    build_index_persisted(half_a, str(tmp_path / "a"), text_col="text", key_col="url")
    build_index_persisted(half_b, str(tmp_path / "b"), text_col="text", key_col="url")
    merged = merge_build_dirs(
        spark, [str(tmp_path / "a"), str(tmp_path / "b")], str(tmp_path / "m"),
        rekey=True,
    )
    direct = build_index_persisted(docs, str(tmp_path / "d"), text_col="text",
                                   key_col="url")

    assert merged.n_docs == direct.n_docs
    assert (merged.min_rsv, merged.max_rsv) == (direct.min_rsv, direct.max_rsv)
    assert _segments_sorted(merged) == _segments_sorted(direct)
    queries = synthetic_queries(6)
    assert _topk(merged, spark, queries) == _topk(direct, spark, queries)
    assert sorted(map(tuple, merged.doc_map.collect())) == sorted(
        map(tuple, direct.doc_map.collect())
    )


def test_build_dir_ops_resume_after_kill(spark, corpus, build_dirs, tmp_path, monkeypatch):
    # a merge and a takedown killed while writing `segments` resume on rerun
    # without rewriting their seed stages, and equal the direct build
    from jassv2_spark.plans import persist

    armed = []
    real_write_stage = persist._write_stage

    def killed_at_segments(df, out_dir, stage, *args, **kwargs):
        if stage == "segments" and armed:
            armed.pop()
            raise RuntimeError("killed while writing segments")
        return real_write_stage(df, out_dir, stage, *args, **kwargs)

    monkeypatch.setattr(persist, "_write_stage", killed_at_segments)

    def seed_times(out_dir):
        m = persist.build_metrics(out_dir)
        return [m[s]["finished_at"] for s in ("doc_map", "counts")]

    shards = [build_dirs["a"][0], build_dirs["b"][0]]
    odd_ids = [r[0] for r in corpus.select("doc_id")
               .filter(F.col("doc_id") % 2 == 1).collect()]
    for run, out, want in (
        (lambda: merge_build_dirs(spark, shards, str(tmp_path / "m")),
         str(tmp_path / "m"), build_dirs["d"][1]),
        (lambda: delete_docs_build_dir(spark, build_dirs["d"][0],
                                       str(tmp_path / "del"), odd_ids),
         str(tmp_path / "del"), build_dirs["a"][1]),
    ):
        armed.append(True)
        with pytest.raises(RuntimeError, match="killed"):
            run()
        assert not stage_done(out, "segments")
        seeded = seed_times(out)
        again = run()
        assert seed_times(out) == seeded
        assert again.n_docs == want.n_docs
        assert (again.min_rsv, again.max_rsv) == (want.min_rsv, want.max_rsv)
        assert _segments_sorted(again) == _segments_sorted(want)
        queries = synthetic_queries(6)
        assert _topk(again, spark, queries) == _topk(want, spark, queries)


def test_maintenance_of_loaded_index_names_the_cause(spark, corpus, build_dirs):
    # a loaded index has no counts base: every in-memory maintenance call
    # says so, and points at the build-dir operations
    from jassv2_spark.engine import Engine
    from jassv2_spark.plans.merge import update_docs

    loaded = Engine.load(spark, build_dirs["d"][0]).index
    new = corpus.filter(F.col("doc_id") <= 2)
    for op in (
        lambda: delete_docs(loaded, [1]),
        lambda: merge_indexes([loaded]),
        lambda: add_docs(loaded, new, text_col="text", key_col="doc_id",
                         doc_id_col="doc_id"),
        lambda: update_docs(loaded, new, text_col="text", key_col="doc_id"),
    ):
        with pytest.raises(ValueError, match="loaded") as err:
            op()
        assert "counts" in str(err.value)
        assert "delete_docs_build_dir" in str(err.value)


def test_vocab_diff_hand_checked(spark):
    from jassv2_spark.operators.build import BuildConf, build_index
    from jassv2_spark.plans.merge import vocab_diff

    conf = BuildConf(tokenizer="parity")
    a = build_index(
        spark.createDataFrame(
            [(1, "x y"), (2, "x z"), (3, "x w")], ["doc_id", "text"]
        ),
        text_col="text", key_col="doc_id", doc_id_col="doc_id", conf=conf,
    )
    b = build_index(
        spark.createDataFrame([(1, "x y q q")], ["doc_id", "text"]),
        text_col="text", key_col="doc_id", doc_id_col="doc_id", conf=conf,
    )
    got = {r["term"]: r for r in vocab_diff(a, b, top_m=10).collect()}
    # x: 3 -> 1 (delta -2); q: 0 -> 1 (+1, b-only term); w/z: 1 -> 0 (-1)
    assert (got["x"]["df_a"], got["x"]["df_b"], got["x"]["delta"]) == (3, 1, -2)
    assert (got["q"]["df_a"], got["q"]["delta"]) == (0, 1)
    assert got["x"]["move_rank"] == 1  # |−2| is the biggest move
    # |delta|=1 group ties break term ASC: q before w before z
    assert [got[t]["move_rank"] for t in ("q", "w", "z")] == [2, 3, 4]
    assert got["y"]["delta"] == 0


def test_update_docs_replaces_by_key(spark):
    from jassv2_spark.operators.build import BuildConf, build_index
    from jassv2_spark.operators.search import search
    from jassv2_spark.plans.merge import update_docs

    docs = spark.createDataFrame(
        [("a", "old stale words here"), ("b", "spark join table"),
         ("c", "window scan query")],
        ["key", "text"],
    )
    idx = build_index(docs, text_col="text", key_col="key",
                      conf=BuildConf(tokenizer="parity"))
    fresh = spark.createDataFrame(
        [("a", "brand new content spark")], ["key", "text"]
    )
    idx2 = update_docs(idx, fresh, text_col="text", key_col="key")

    def hits(index, qtext):
        q = spark.createDataFrame([("q", qtext)], ["query_id", "query"])
        return {r["key"] for r in search(index, q, k=10).collect()}

    assert idx2.n_docs == 3  # replaced, not appended
    assert hits(idx2, "stale") == set()          # old version gone
    assert hits(idx2, "brand") == {"a"}          # new version serves
    assert hits(idx2, "spark") == {"a", "b"}     # merged vocab consistent
    # unchanged docs keep their ids
    old_ids = {r["key"]: r["doc_id"] for r in idx.doc_map.collect()}
    new_ids = {r["key"]: r["doc_id"] for r in idx2.doc_map.collect()}
    assert new_ids["b"] == old_ids["b"] and new_ids["c"] == old_ids["c"]
    assert new_ids["a"] != old_ids["a"]  # replaced doc got a fresh id


def test_update_docs_equals_fresh_build_results(spark):
    from jassv2_spark.operators.build import BuildConf, build_index
    from jassv2_spark.operators.search import search
    from jassv2_spark.plans.merge import update_docs

    conf = BuildConf(tokenizer="parity")
    base = [(f"k{i}", f"term{i} common spark") for i in range(6)]
    docs = spark.createDataFrame(base, ["key", "text"])
    idx = build_index(docs, text_col="text", key_col="key", conf=conf)
    fresh = spark.createDataFrame(
        [("k2", "replaced common join"), ("k4", "replaced join window")],
        ["key", "text"],
    )
    idx2 = update_docs(idx, fresh, text_col="text", key_col="key")

    final = {k: t for k, t in base}
    final["k2"] = "replaced common join"
    final["k4"] = "replaced join window"
    ref = build_index(
        spark.createDataFrame(sorted(final.items()), ["key", "text"]),
        text_col="text", key_col="key", conf=conf,
    )
    q = spark.createDataFrame(
        [("q1", "common spark"), ("q2", "replaced join")], ["query_id", "query"]
    )
    got = sorted((r["query_id"], r["key"], r["rsv"])
                 for r in search(idx2, q, k=10).collect())
    want = sorted((r["query_id"], r["key"], r["rsv"])
                  for r in search(ref, q, k=10).collect())
    assert got == want  # key-level results identical to a fresh build
