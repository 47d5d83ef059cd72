"""Batch SaaT fast path: shared mmap index + sparse numpy accumulators.

This is the Spark analogue of the reference's actual serving design: a
read-only in-memory index shared by worker threads, each thread pulling
whole queries (`anytime/JASS_anytime_query.h:88-103` work-stealing ≅ Spark
scheduling query partitions), per-query accumulation
(`source/accumulator_2d.h`), and a top-k select.

Scale design:
- Packaging is FULLY distributed: the segment table is repartitioned by
  an explicit term bucket (``pmod(xxhash64(term), n_shards)`` — the same
  rule the on-disk layout uses, plans/persist.py) and each task writes
  ONE flat docid shard (`.npy`) plus ONE per-bucket **directory parquet**
  (term, impact, seg_freq, shard, start, end) directly from the executor.
  NEITHER postings NOR the vocab-sized directory transit the driver: the
  driver materializes only O(n_shards) per-bucket stat rows (round-2
  verdict item #1 — at a 10^8-term web vocab the old ``toPandas()``
  directory was ~10^9 tuples on one machine). Workers resolve a query
  term to its bucket with the pure-Python xxhash64
  (functions/hashing.py, bitwise-equal to the JVM expression) and lazily
  mmap/load ONLY the buckets the query's terms hash to — the same
  pruning rule the declarative path applies to the parquet layout
  (search.py:_pruned_segments). The package directory must be shared
  storage on a real cluster (any Spark-visible mount: NFS/object-store
  fuse); in local mode /tmp is it.
- Shards are distributed via ``SparkContext.addFile`` (executor-local
  copy on a real cluster; same file in local mode) and **memory-mapped**
  by every Python worker — the OS page cache shares the bytes across all
  workers on a host, and a query's worker touches ONLY the shards its
  terms live in. Only the small per-term segment directory is pickled.
- Accumulation is HYBRID: a dense int64 accumulator (reused across
  queries, touched-entries-only reset — the vectorized analogue of the
  reference's dirty-page lazy zeroing) when the docid space fits
  ``DENSE_LIMIT``; sparse `np.unique` + `np.bincount` (O(p log p) in
  postings processed, collection-size-independent) beyond it. Measured on
  this corpus the dense scatter-add is ~5× faster per query; the sparse
  path exists because dense arrays at 10^12 docs are impossible.
- Scheduling is ONE Spark stage per serve call, one task per core over
  the caller's own query partitions: no count job, no query shuffle. On
  a 4-vCPU host every stage that runs Python costs ~250 ms even for one
  row, against ~0.3 ms of kernel for an interactive query, and finer
  slices buy big batches nothing (a 32-core sweep of 4×/8×/16×/32× tasks
  per core was within noise, BASELINE.md "8→32 corroboration pair"). The
  package descriptor is O(n_buckets) scalars and rides in the closure.

Must emit bitwise-identical results to the declarative path — enforced by
tests/test_saat.py. Semantics (q_tf scaling, uint8 rescale, segment order,
ρ stop-before-overflow, doc_id tie-break) follow
`anytime/JASS_anytime_api.cpp:434-648`; see operators/search.py for the
per-step citations.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid
from collections import Counter
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from jassv2_spark.functions.tokenizer import tokenize
from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import MAX_RSV

# per-worker cache: path -> mmap'd ndarray. The mappings are page-cache-
# backed (cheap RAM-wise) but each holds an open file descriptor, so a
# long-lived worker serving many packages would otherwise accumulate fds
# without bound — BOUNDED with the same FIFO eviction as _DIR_CACHE
# (evicted entries close their fd when the last ndarray view drops).
_MMAP_CACHE: dict[str, np.ndarray] = {}
_MMAP_CACHE_MAX = 512  # open shard fds per worker across all packages

# per-worker cache: directory-parquet path -> {term: [(impact, seg_freq,
# shard, start, end)] impact-ascending}. A worker only ever populates the
# buckets its queries' terms hash to. BOUNDED (FIFO eviction): unlike the
# mmap cache (page-cache-backed, cheap to keep), these are materialized
# heap dicts, and a long-lived worker serving many packages would
# otherwise grow without bound.
_DIR_CACHE: dict[str, dict[str, list[tuple[int, int, int, int, int]]]] = {}
_DIR_CACHE_MAX = 256  # buckets resident per worker across all packages

# dense accumulator reuse: one buffer per worker, grown on demand
DENSE_LIMIT = 1 << 26  # ≈67M docids ≈ 0.5 GB int64 per worker
_ACC_BUF: list[np.ndarray] = []


_STATS_SCHEMA = StructType(
    [
        StructField("bucket", LongType(), False),
        StructField("n_segments", LongType(), False),
        StructField("n_postings", LongType(), False),
        StructField("max_doc", LongType(), False),
    ]
)


def _query_rows(*cols: str) -> StructType:
    """A serve call's output: query_id, then non-null long columns."""
    fields = [StructField(c, LongType(), False) for c in cols]
    return StructType([StructField("query_id", StringType(), False)] + fields)


_RESULTS_SCHEMA = _query_rows("doc_id", "rsv", "rank")
_QUERY_STATS_SCHEMA = _query_rows("postings_processed", "n_results", "usec")


def package_index(index: Index, path: str | None = None, n_shards: int | None = None) -> dict:
    """Build the serving package with NOTHING vocab- or postings-scale on
    the driver: the segment table is repartitioned by
    ``pmod(xxhash64(term), n_shards)`` into ``n_shards`` tasks; each task
    writes one flat ascending-docid `.npy` shard per partition (int64:
    numpy's fancy-index fast path wants intp indices — see write(); the
    reference's 4-byte docid width, `source/query.h:132`, would pay a
    per-query conversion instead) plus
    one **directory parquet per bucket** (a bucket lands wholly inside one
    partition, so its directory file has a deterministic name workers can
    derive without any listing: ``dir_{token}_{bucket:05d}.parquet``). The
    only rows returned to the driver are O(n_shards) per-bucket stats.

    The analogue of the reference's serial index load
    (`anytime/JASS_anytime_api.cpp:89-134`) — but distributed, because at
    10^12 postings the package IS all postings (and the directory IS the
    vocab) and neither must ever transit one machine. ``path`` is a
    DIRECTORY (created if absent; a fresh tempdir by default); on a real
    cluster it must be storage every executor can read.
    """
    from pyspark.sql import functions as F

    spark = index.spark
    if path is None:
        path = tempfile.mkdtemp(prefix="jass_pkg_")
    else:
        path = path[: -len(".npy")] if path.endswith(".npy") else path
        os.makedirs(path, exist_ok=True)
    if n_shards is None:
        # DATA-sized above a cluster-sized floor: ~0.5M postings (4 MB of
        # int64 docids) per bucket, capped at 4096 buckets (at 10^12
        # postings the cap gives ~2 GB/bucket — the coarse unit of serving
        # distribution). Below ~0.5M postings per default-parallelism slot
        # the floor `defaultParallelism` sets the count instead, so a
        # small corpus's layout DOES change with the parallelism of the
        # session that builds it (the floor keeps the package WRITE at full
        # parallelism). The layout matters to an N vs 4N scaling
        # comparison: measured, a 1-bucket package serves ~11% faster per
        # query at 1 core than a 32-bucket one, so packages built under
        # different parallelism compare layout + parallelism, not
        # parallelism alone. Finer buckets also
        # measure FASTER under concurrent serving: per-query kernel time
        # over a 32-bucket package is flat from 1 to 4 workers (21.0 →
        # 21.1 ms/q) while a 1-bucket package degrades 25% (18.9 → 23.6)
        # — concurrent readers of one giant shared mapping contend in a
        # way many small per-bucket mappings do not.
        n_post = int(
            index.term_stats.agg(F.sum("df")).collect()[0][0] or 0
        )
        data_shards = min(4096, -(-n_post // 500_000))  # ceil
        n_shards = max(1, spark.sparkContext.defaultParallelism, data_shards)
    # addFile's registry is keyed by BASENAME: shard names must be unique
    # across packages living in one SparkContext
    token = uuid.uuid4().hex[:10]

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        by_term: dict[tuple[int, str], dict[int, list[np.ndarray]]] = {}
        for pdf in batches:
            for bucket, term, impact, ids in zip(
                pdf["__bucket"], pdf["term"], pdf["impact"], pdf["doc_ids"]
            ):
                by_term.setdefault((int(bucket), term), {}).setdefault(
                    int(impact), []
                ).append(np.asarray(ids, dtype=np.int64))
        chunks: list[np.ndarray] = []
        meta: list[tuple] = []
        offset = 0
        for (bucket, term), imps in sorted(by_term.items()):
            for impact, shards in sorted(imps.items()):
                if len(shards) > 1:
                    ids = np.concatenate(shards)
                    ids.sort()
                else:
                    ids = shards[0]  # ascending by packer construction
                chunks.append(ids)
                meta.append(
                    (bucket, term, impact, len(ids), pid, offset, offset + len(ids), int(ids[-1]))
                )
                offset += len(ids)
        if chunks:
            # int64 ON PURPOSE (not the reference's 4-byte docids,
            # `source/query.h:132`): numpy fancy indexing converts any
            # non-intp index array to int64 on EVERY kernel call, so int32
            # shards pay a per-query conversion pass — A/B-measured 20-33%
            # of whole-query time at 640k docs (round 5). Serving reads 8
            # cold bytes/posting instead of 4+8 convert-churn bytes; old
            # int32 packages still load (np.load keys off the header) and
            # simply keep paying the conversion.
            all_ids = np.concatenate(chunks)
            # write-then-rename: idempotent under task retry (content is
            # deterministic, so a double write is harmless either way)
            final = os.path.join(path, f"shard_{token}_{pid:05d}.npy")
            tmp = final + f".tmp{os.getpid()}"
            with open(tmp, "wb") as f:  # handle, not path: np.save would
                np.save(f, all_ids, allow_pickle=False)  # append '.npy'
            os.replace(tmp, final)
        # per-bucket directory parquet: workers derive the file name from
        # the term's bucket alone — no listing, no driver-held vocab
        mdf = pd.DataFrame(
            meta,
            columns=["bucket", "term", "impact", "seg_freq", "shard", "start", "end", "max_doc"],
        )
        stats = []
        for bucket, grp in mdf.groupby("bucket", sort=True):
            final = os.path.join(path, f"dir_{token}_{int(bucket):05d}.parquet")
            tmp = final + f".tmp{os.getpid()}"
            pq.write_table(
                pa.Table.from_pandas(
                    grp[["term", "impact", "seg_freq", "shard", "start", "end"]],
                    preserve_index=False,
                ),
                tmp,
            )
            os.replace(tmp, final)
            stats.append(
                (int(bucket), len(grp), int(grp["seg_freq"].sum()), int(grp["max_doc"].max()))
            )
        yield pd.DataFrame(
            stats, columns=["bucket", "n_segments", "n_postings", "max_doc"]
        )

    stats_pdf = (
        index.segments.select("term", "impact", "doc_ids")
        # explicit bucket column (not bare repartition-by-term) so each
        # bucket's rows land in exactly one partition → one directory file
        # with a name derivable from the bucket id alone
        .withColumn("__bucket", F.pmod(F.xxhash64("term"), F.lit(int(n_shards))))
        .repartition(n_shards, "__bucket")
        .mapInPandas(write, schema=_STATS_SCHEMA)
        .toPandas()  # O(n_shards) rows — scalars only, never vocab-scale
    )
    try:  # executor-local distribution on a real cluster; no-op locally
        for fname in sorted(os.listdir(path)):
            if fname.startswith((f"shard_{token}_", f"dir_{token}_")):
                index.spark.sparkContext.addFile(os.path.join(path, fname))
    except Exception:
        pass
    return {
        "dir": path,
        "token": token,
        "n_buckets": int(n_shards),
        "buckets": frozenset(int(b) for b in stats_pdf["bucket"]),
        "n_postings": int(stats_pdf["n_postings"].sum()) if len(stats_pdf) else 0,
        "max_doc": int(stats_pdf["max_doc"].max()) if len(stats_pdf) else 0,
        "stem": getattr(index.conf, "stem", False),
    }


def _resolve(path: str) -> str:
    """Package files live on shared storage (local mode: the tempdir) or,
    on a real cluster, in each executor's SparkFiles copy."""
    if os.path.exists(path):
        return path
    from pyspark import SparkFiles

    resolved = SparkFiles.get(os.path.basename(path))
    if not os.path.exists(resolved):
        raise FileNotFoundError(
            f"package file {path} not found locally or via SparkFiles"
        )
    return resolved


def _load_shard(pkg: dict, shard: int) -> np.ndarray:
    path = os.path.join(pkg["dir"], f"shard_{pkg['token']}_{shard:05d}.npy")
    arr = _MMAP_CACHE.get(path)
    if arr is None:
        arr = np.load(_resolve(path), mmap_mode="r", allow_pickle=False)
        while len(_MMAP_CACHE) >= _MMAP_CACHE_MAX:
            _MMAP_CACHE.pop(next(iter(_MMAP_CACHE)))  # evict least-recent
    else:
        # LRU touch (dict preserves insertion order): without it a
        # working set above the cap evicts its hottest shards first and
        # thrashes np.load on every query
        _MMAP_CACHE.pop(path)
    _MMAP_CACHE[path] = arr
    return arr


def _bucket_directory(pkg: dict, bucket: int) -> dict[str, list[tuple[int, int, int, int, int]]]:
    """Load (and cache) one bucket's term directory. A query's worker
    touches only the buckets its terms hash to — the vocab never exists
    whole in any single process."""
    path = os.path.join(pkg["dir"], f"dir_{pkg['token']}_{bucket:05d}.parquet")
    table = _DIR_CACHE.get(path)
    if table is None:
        import pyarrow.parquet as pq

        t = pq.read_table(_resolve(path))
        table = {}
        for term, impact, seg_freq, shard, start, end in zip(
            t["term"].to_pylist(), t["impact"].to_pylist(), t["seg_freq"].to_pylist(),
            t["shard"].to_pylist(), t["start"].to_pylist(), t["end"].to_pylist(),
        ):
            table.setdefault(term, []).append(
                (int(impact), int(seg_freq), int(shard), int(start), int(end))
            )
        for segs in table.values():
            segs.sort()  # impact-ascending within a term
        while len(_DIR_CACHE) >= _DIR_CACHE_MAX:
            _DIR_CACHE.pop(next(iter(_DIR_CACHE)))  # FIFO eviction
        _DIR_CACHE[path] = table
    return table


def _term_segs(pkg: dict, term: str) -> list[tuple[int, int, int, int, int]] | None:
    """Directory lookup: term → bucket (pure-Python xxhash64, bitwise the
    JVM rule) → that bucket's parquet directory → segments. OOV terms in
    an absent bucket cost nothing (the driver recorded which buckets
    exist)."""
    from jassv2_spark.functions.hashing import term_bucket

    b = term_bucket(term, pkg["n_buckets"])
    if b not in pkg["buckets"]:
        return None
    return _bucket_directory(pkg, b).get(term)


def _search_one(
    pkg: dict,
    query: str,
    k: int,
    rho: float,
    postings_budget: int | None,
    raw: bool = False,
) -> tuple[list[tuple[int, int]], int]:
    """One query against the package; returns (ranked [(doc_id, rsv)],
    postings_processed). Mirrors tests/oracle.py / the declarative plan.
    ``raw`` = the `-a` whitespace query mode (parser_query.cpp:112-143)."""
    if raw:
        from jassv2_spark.functions.tokenizer import tokenize_raw

        toks = tokenize_raw(query)
    else:
        toks = tokenize(query, xml=False)
    if pkg.get("stem"):
        from jassv2_spark.functions.stem import stem_tokens

        toks = stem_tokens(toks)
    terms = Counter(toks)
    n_terms = len(terms)
    segs: list[tuple[int, int, str, int, int, int]] = []
    largest = 0
    total_postings = 0
    for term, q_tf in terms.items():
        tsegs = _term_segs(pkg, term)
        if tsegs is None:
            continue
        term_max = 0
        for impact, seg_freq, shard, start, end in tsegs:
            simpact = impact * q_tf
            segs.append((simpact, seg_freq, term, shard, start, end))
            term_max = max(term_max, simpact)
            total_postings += seg_freq
        largest += term_max
    if not segs:
        return [], 0
    # impact DESC, seg_freq ASC, term ASC (deterministic tertiary)
    segs.sort(key=lambda s: (-s[0], s[1], s[2]))
    scale = largest > MAX_RSV
    if rho < 1.0:
        budget = int(total_postings * rho)
    elif postings_budget is not None:
        budget = int(postings_budget)
    else:
        budget = None

    plan: list[tuple[int, int, int, int]] = []  # (scaled_impact, shard, start, end)
    processed = 0
    for simpact, seg_freq, _term, shard, start, end in segs:
        impact = int(simpact / largest * (MAX_RSV - n_terms) + 1) if scale else simpact
        if budget is not None and processed + seg_freq > budget:
            break  # stop-before-overflow (JASS_anytime_api.cpp:590-592)
        processed += seg_freq
        plan.append((impact, shard, start, end))
    if not plan:
        return [], processed

    max_doc = int(pkg.get("max_doc", 0))
    # PER-QUERY path choice, not just a docid-space cap: the dense path
    # carries an O(max_doc) term (the np.nonzero hit scan over the whole
    # accumulator) that the postings volume must amortize. Measured
    # (tools/sparse_bench.py): ~9 ns/posting dense vs ~40 ns/posting
    # sparse, but ~2 ns per accumulator ENTRY scanned — at 67M docids and
    # 142k planned postings the dense path is 25x SLOWER than sparse, at
    # 640k docids and 1.4M postings it is 4.5x faster. Linear breakeven
    # sits near max_doc ≈ 15x planned postings; 8x leaves margin for the
    # DRAM-random scatter cost growing with accumulator size. Both paths
    # are bitwise-identical (tests/test_saat.py), so this is purely a
    # physical-plan choice.
    if max_doc < DENSE_LIMIT and max_doc <= 8 * processed:
        # dense path: reused buffer, scatter-add per segment (docids are
        # unique within a segment so fancy-index += is exact), reset only
        # the touched entries afterwards (≅ accumulator_2d dirty pages).
        # int16: every final rsv ≤ MAX_RSV (the uint8 rescale guarantees
        # sums fit 255, source/query.h:131), so even with the q_tf scaling
        # of the unscaled path values stay ≪ 2^15; a 2-byte accumulator
        # keeps 8 workers' dense arrays resident in shared LLC.
        if not _ACC_BUF or len(_ACC_BUF[0]) <= max_doc:
            _ACC_BUF.clear()
            _ACC_BUF.append(np.zeros(max_doc + 1, dtype=np.int16))
        acc = _ACC_BUF[0]
        for impact, shard, start, end in plan:
            acc[_load_shard(pkg, shard)[start:end]] += impact
        hit_ids = np.nonzero(acc[: max_doc + 1])[0]
        vals = acc[hit_ids].astype(np.int64)
        # reset via the UNIQUE touched entries: one write per distinct
        # doc instead of one per posting, ~30% less scatter traffic on
        # Zipf-headed plans. Sound only while every plan impact is > 0
        # (then every touched entry is nonzero and hit_ids covers them
        # all); the scaled-impact formula can go non-positive for
        # degenerate >=(MAX_RSV - 1)-term queries, where residue in the
        # reused buffer would corrupt later queries on this worker — fall
        # back to the exhaustive per-segment reset there.
        if plan[-1][0] > 0:  # plan is impact-descending; min is last
            acc[hit_ids] = 0
        else:
            for _impact, shard, start, end in plan:
                acc[_load_shard(pkg, shard)[start:end]] = 0
    else:
        ids = np.concatenate([_load_shard(pkg, sh)[s:e] for _i, sh, s, e in plan])
        wts = np.concatenate(
            [np.full(e - s, i, dtype=np.int64) for i, _sh, s, e in plan]
        )
        hit_ids, inverse = np.unique(ids, return_inverse=True)
        vals = np.bincount(inverse, weights=wts).astype(np.int64)  # exact (≪ 2^53)

    # O(n) top-k on a packed (rsv, doc_id) key: rsv ≤ MAX_RSV·q_tf fits well
    # under 2^15, doc_id under 2^48 — ordering ≡ (rsv DESC, doc_id DESC).
    key = (vals << np.int64(48)) | hit_ids
    if len(key) > k:
        cand = np.argpartition(key, len(key) - k)[len(key) - k :]
    else:
        cand = np.arange(len(key))
    order = cand[np.argsort(key[cand])[::-1]]
    return [(int(hit_ids[i]), int(vals[i])) for i in order], processed


def _serve(
    index: Index,
    queries: DataFrame,
    package: dict | None,
    schema: StructType,
    rows_of: Callable[[dict, str, str], list[tuple]],
) -> DataFrame:
    """The batch driver of both serve calls: ``rows_of(pkg, query_id,
    query)`` turns one query into its output rows, and a call is ONE
    ``mapInPandas`` stage with one task per core (module docstring). A
    frame narrower than ``defaultParallelism`` is widened by one
    ``repartition`` (the build's rule for `docs`, operators/build.py); a
    wider one is merged by ``coalesce``, which needs no shuffle. Reading
    the partition count runs no job on a local or file scan; under AQE a
    frame whose plan ends in a shuffle runs that shuffle for it."""
    pkg = package if package is not None else package_index(index)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for qid, qtext in zip(pdf["query_id"], pdf["query"]):
                out.extend(rows_of(pkg, qid, qtext))
            yield pd.DataFrame(out, columns=schema.fieldNames())

    cores = max(1, queries.sparkSession.sparkContext.defaultParallelism)
    n = queries.rdd.getNumPartitions()
    if n < cores:
        queries = queries.repartition(cores)
    elif n > cores:
        queries = queries.coalesce(cores)
    return queries.mapInPandas(run, schema=schema)


def saat_search_stats(
    index: Index,
    queries: DataFrame,
    k: int = 10,
    rho: float = 1.0,
    postings_budget: int | None = None,
    package: dict | None = None,
    tokenizer: str | None = None,
) -> DataFrame:
    """Per-query serving stats from the fast path: (query_id,
    postings_processed, n_results, usec) — the reference's per-query
    report (`anytime/JASS_anytime_stats.h:30-40`, printed at
    `JASS_anytime.cpp:276-295`). postings_processed is deterministic and
    matches the declarative `search_metrics` under the same budget; usec
    is wall time of the kernel for this query on its worker."""
    raw = tokenizer == "raw"

    def rows_of(pkg: dict, qid: str, query: str) -> list[tuple]:
        t0 = time.perf_counter()
        ranked, processed = _search_one(pkg, query, k, rho, postings_budget, raw=raw)
        return [(qid, processed, len(ranked), int((time.perf_counter() - t0) * 1e6))]

    return _serve(index, queries, package, _QUERY_STATS_SCHEMA, rows_of)


def saat_search(
    index: Index,
    queries: DataFrame,
    k: int = 10,
    rho: float = 1.0,
    postings_budget: int | None = None,
    package: dict | None = None,
    tokenizer: str | None = None,
) -> DataFrame:
    """Batch search via the shared-mmap package; schema matches the
    declarative path: (query_id, doc_id, rsv, rank)."""
    raw = tokenizer == "raw"

    def rows_of(pkg: dict, qid: str, query: str) -> list[tuple]:
        ranked, _ = _search_one(pkg, query, k, rho, postings_budget, raw=raw)
        return [(qid, doc, rsv, rank) for rank, (doc, rsv) in enumerate(ranked, start=1)]

    return _serve(index, queries, package, _RESULTS_SCHEMA, rows_of)
