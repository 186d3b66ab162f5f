"""Inverted-index build (SURVEY.md §7 steps 3-4, §4.2.1-2).

Pipeline (all DataFrame, one Python kernel):

  corpus ── stage_corpus ──> staged parquet + offsets (docnum basis)
  staged ── numbered(doc_id [+meta]) ──> docids dimension      [pruned pass]
  staged ── numbered(text cols) ── tokenize (Arrow UDF)
         ──> tokens (docnum, field, term, tf, dl)              [staged]
  tokens ── groupBy(field).sum(tf) ──────> avgdl per field      (map-side combine)
  tokens ── groupBy(field,term).count ──> df; df>threshold ──> hot set (broadcast)
  tokens ── [late-stem: ⋈ broadcast stem dim] ── +bucket +salt,
         repartition(xxhash64(bucket,salt))
         ── sortWithinPartitions(fid,term,docnum)
         ── mapInArrow(encode) ──> posting rows ──> parquet partitionBy(bucket)

Round 7: jvm stemming builds stage PRE-STEM tokens (one regex pass) and
attach the vocabulary-sized stem dimension from the stage read; the
encode kernel merges same-doc stem collisions and is mapInArrow end to
end (no per-row Python objects).  Docnums are a pure JVM projection
(_metadata.row_index).  See OPTIMIZATION_r07.md.

Physical layout: rows hold up to block_size*blocks_per_row postings each,
chunk-aligned (a row never spans a chunk_docs docnum boundary), binary
columns gap+varint encoded.  The ROW is the block-max unit: each carries a
float32 upper-bound BM25F score (rounded up) that the WAND kernel prunes
on — skip granularity = row size.  Doc lengths are embedded per posting,
so querying never touches a doclen table (no per-query doclen shuffle at
any scale).

Skew: Zipf-head terms (df > hot threshold) are salted across
``hot_salts`` encode partitions keyed by chunk id, so no reducer ever
owns a whole hot posting list; salted runs stay chunk-aligned and
merge by concatenation at query time.  Their exact df is injected from a
small broadcast map (collected from the df aggregation).

Resume: the bucket space is split into ``bucket_groups`` groups; each
group is one write + one manifest JSON (input fingerprint, counts,
timings, skew ratio).  A rerun with the same corpus fingerprint skips
completed groups (reference analog: skip-if-exists at
src/index/build_splade.py:35-37 and DVC dep hashing in dvc.yaml).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, BM25Params, EngineConfig, IndexConfig
from .codecs import decode_docgaps, decode_positions, varint_decode
from .docnums import numbered, stage_corpus, write_docids
from .tokenize import TOKENS_SCHEMA, TOKENS_SCHEMA_POS, tokenize

INDEX_LAYOUT_VERSION = 4  # bump when POSTINGS_SCHEMA / stats layout changes

POSTINGS_SCHEMA = (
    "bucket int, field string, term string, df long, chunk long, "
    "doc_lo long, doc_hi long, n int, max_score float, "
    "docs binary, tfs binary, dls binary, pos binary, row_bytes long, "
    "epoch int, epoch_n long"
)


def _make_encode_kernel(
    cfg: EngineConfig, stats: dict, hot_df: dict, epoch: int = 0,
    field_names: list[str] | None = None,
):
    """Streaming per-partition encoder, vectorized across terms —
    ``mapInArrow`` form (round 7, guide §4.2).

    Input is sorted by (fid, term, docnum) where ``fid`` is the tinyint
    index into ``field_names`` (sorted) — field STRINGS never ride the
    encode shuffle; the kernel maps ids back to names on output.  Each
    Arrow batch is encoded in whole-array numpy passes: span detection,
    df assignment, BM25 scoring, row-bound reduction and varint encoding
    all happen once per batch, not once per term.  Only the partition's
    final (fid, term) run is carried to the next batch (it may continue
    there).

    Why Arrow instead of mapInPandas: the pandas form objectified every
    term string on input (8.8M Python strs per 150k-doc build) and every
    posting blob on output (one Python ``bytes`` per row via per-row
    buffer slicing, then pandas object columns).  Here term columns stay
    Arrow arrays end-to-end (comparisons via pyarrow.compute, output via
    ``take``), and the binary posting columns are built directly from
    the codec's contiguous (buffer, offsets) pair —
    ``pa.Array.from_buffers`` — zero per-row Python objects in either
    direction."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codecs import (
        encode_docgap_concat,
        encode_positions_concat,
        varint_encode_concat,
    )
    block = cfg.index.block_size
    row_cap = block * cfg.index.blocks_per_row
    chunk_docs = cfg.index.chunk_docs
    k1, b = cfg.bm25.k1, cfg.bm25.b
    boosts = dict(cfg.bm25.field_boosts)
    n_docs = stats["n_docs"]
    avgdl = stats["avgdl"]
    store_pos = cfg.index.store_positions
    field_names = field_names or sorted(stats["fields"])
    boost_by_fid = np.array([boosts.get(n, 1.0) for n in field_names], dtype=np.float64)
    avgdl_by_fid = np.array([avgdl.get(n, 1.0) for n in field_names], dtype=np.float64)
    hot_by_fid = {
        (field_names.index(f), t): v for (f, t), v in hot_df.items() if f in field_names
    }

    out_schema = pa.schema(
        [
            ("bucket", pa.int32()), ("field", pa.string()), ("term", pa.string()),
            ("df", pa.int64()), ("chunk", pa.int64()), ("doc_lo", pa.int64()),
            ("doc_hi", pa.int64()), ("n", pa.int32()), ("max_score", pa.float32()),
            ("docs", pa.binary()), ("tfs", pa.binary()), ("dls", pa.binary()),
            ("pos", pa.binary()), ("row_bytes", pa.int64()),
            ("epoch", pa.int32()), ("epoch_n", pa.int64()),
        ]
    )
    field_dict = pa.array(list(field_names), type=pa.string())

    def _term_neq(terms, n):
        """Elementwise terms[1:] != terms[:-1] without objectifying —
        pyarrow.compute over zero-copy slices."""
        if n <= 1:
            return np.empty(0, dtype=bool)
        return pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )

    def encode_region(fids, terms, buckets, docs, tfs, dls, posflat=None):
        """Encode complete runs -> one Arrow RecordBatch.  ``terms`` is a
        pyarrow StringArray; everything else numpy."""
        n = docs.size
        if n == 0:
            return None
        tneq = _term_neq(terms, n)
        if posflat is None:
            # late-stem merge: two source tokens of one doc stemming to
            # the same term arrive as adjacent duplicate (fid, term,
            # docnum) rows after the encode sort — merge them (sum tf)
            # BEFORE span detection (df = run length) and gap encoding
            # (strictly increasing docnums per row).  No-op when the
            # stage was pre-merged (classic and positions paths).
            dup = np.zeros(n, dtype=bool)
            dup[1:] = (fids[1:] == fids[:-1]) & (docs[1:] == docs[:-1]) & ~tneq
            if dup.any():
                keep = np.flatnonzero(~dup)
                tfs = np.add.reduceat(tfs, keep)
                fids, buckets = fids[keep], buckets[keep]
                docs, dls = docs[keep], dls[keep]
                terms = terms.take(pa.array(keep))
                n = docs.size
                tneq = _term_neq(terms, n)
        key_change = np.empty(n, dtype=bool)
        key_change[0] = True
        key_change[1:] = (fids[1:] != fids[:-1]) | tneq
        span_starts = np.flatnonzero(key_change)
        span_ends = np.append(span_starts[1:], n)
        span_len = span_ends - span_starts

        # df per span: run length, except salted hot terms (exact df from
        # the broadcast map).  Only span-START terms are materialized to
        # Python, and only when a hot set exists (vocab-bounded).
        span_df = span_len.astype(np.int64)
        if hot_by_fid:
            span_terms = terms.take(pa.array(span_starts)).to_pylist()
            for i, (s, t) in enumerate(zip(span_starts, span_terms)):
                d = hot_by_fid.get((int(fids[s]), t))
                if d is not None:
                    span_df[i] = d

        # vectorized BM25 contributions for every posting at once
        df_pp = np.repeat(span_df, span_len).astype(np.float64)
        boost_pp = np.repeat(boost_by_fid[fids[span_starts]], span_len)
        avgdl_pp = np.repeat(avgdl_by_fid[fids[span_starts]], span_len)
        idf = np.log(n_docs / (df_pp + 1.0)) + 1.0
        w = tfs.astype(np.float64) * boost_pp
        scores = idf * (w * (k1 + 1.0)) / (w + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl_pp))

        # row starts: key change | chunk change, then row_cap splits
        chunks = docs // chunk_docs
        brk = key_change.copy()
        brk[1:] |= chunks[1:] != chunks[:-1]
        base = np.flatnonzero(brk)
        base_ends = np.append(base[1:], n)
        long_spans = np.flatnonzero(base_ends - base > row_cap)
        if long_spans.size:
            extra = np.concatenate(
                [np.arange(base[i] + row_cap, base_ends[i], row_cap) for i in long_spans]
            )
            row_starts = np.sort(np.concatenate([base, extra]))
        else:
            row_starts = base
        row_ends = np.append(row_starts[1:], n)
        row_n = row_ends - row_starts
        row_span = np.searchsorted(span_starts, row_starts, side="right") - 1

        # the row IS the block-max unit: per-row score upper bound,
        # float32 rounded UP so it stays a valid bound
        row_max = np.nextafter(
            np.maximum.reduceat(scores, row_starts).astype(np.float32), np.float32(np.inf)
        )

        nrows = row_starts.size
        docs_buf, docs_off = encode_docgap_concat(docs, row_starts)
        tfs_buf, tfs_off = varint_encode_concat(tfs.astype(np.uint64), row_starts)
        dls_buf, dls_off = varint_encode_concat(dls.astype(np.uint64), row_starts)
        if store_pos and posflat is not None:
            counts = tfs.astype(np.int64)  # tf == positions per posting
            posting_starts = np.zeros(n, dtype=np.int64)
            if n > 1:
                np.cumsum(counts[:-1], out=posting_starts[1:])
            pos_buf, pos_off = encode_positions_concat(posflat, posting_starts, row_starts)
        else:
            pos_buf = np.empty(0, dtype=np.uint8)
            pos_off = np.zeros(nrows + 1, dtype=np.int64)

        def _bin(buf, off):
            # the codec's (contiguous buffer, offsets) IS the Arrow
            # binary layout — no per-row bytes objects ever exist
            off32 = np.ascontiguousarray(off, dtype=np.int32)
            return pa.Array.from_buffers(
                pa.binary(), nrows,
                [None, pa.py_buffer(off32), pa.py_buffer(np.ascontiguousarray(buf))],
            )

        row_bytes = (
            (docs_off[1:] - docs_off[:-1])
            + (tfs_off[1:] - tfs_off[:-1])
            + (dls_off[1:] - dls_off[:-1])
            + (pos_off[1:] - pos_off[:-1])
        )
        rs_idx = pa.array(row_starts)
        arrays = [
            pa.array(buckets[row_starts].astype(np.int32), type=pa.int32()),
            field_dict.take(pa.array(fids[row_starts].astype(np.int64))),
            terms.take(rs_idx),
            pa.array(span_df[row_span], type=pa.int64()),
            pa.array(chunks[row_starts], type=pa.int64()),
            pa.array(docs[row_starts], type=pa.int64()),
            pa.array(docs[row_ends - 1], type=pa.int64()),
            pa.array(row_n.astype(np.int32), type=pa.int32()),
            pa.array(row_max, type=pa.float32()),
            _bin(docs_buf, docs_off),
            _bin(tfs_buf, tfs_off),
            _bin(dls_buf, dls_off),
            _bin(pos_buf, pos_off),
            pa.array(row_bytes.astype(np.int64), type=pa.int64()),
            # epoch lineage: which incremental refresh wrote this row, and
            # the corpus size its encode-time idf/bounds assumed — queries
            # over multi-epoch indexes rescale bounds with these
            pa.array(np.full(nrows, epoch, dtype=np.int32), type=pa.int32()),
            pa.array(np.full(nrows, n_docs, dtype=np.int64), type=pa.int64()),
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    def kernel(batches):
        # carry = (fids, terms(pa), buckets, docs, tfs, dls, posflat)
        carry = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            fids = rb.column("fid").to_numpy(zero_copy_only=False)
            terms = rb.column("term")
            buckets = rb.column("bucket").to_numpy(zero_copy_only=False)
            docs = rb.column("docnum").to_numpy(zero_copy_only=False)
            tfs = rb.column("tf").to_numpy(zero_copy_only=False)
            dls = rb.column("dl").to_numpy(zero_copy_only=False)
            if store_pos:
                plist = rb.column("pos")
                posflat = plist.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                posflat = None
            if carry is not None:
                fids = np.concatenate([carry[0], fids])
                terms = pa.concat_arrays(
                    [carry[1], terms.combine_chunks() if hasattr(terms, "combine_chunks") else terms]
                )
                buckets = np.concatenate([carry[2], buckets])
                docs = np.concatenate([carry[3], docs])
                tfs = np.concatenate([carry[4], tfs])
                dls = np.concatenate([carry[5], dls])
                if store_pos:
                    posflat = np.concatenate([carry[6], posflat])
            n = docs.size
            # hold back the trailing (fid, term) run — it may continue
            kc = np.flatnonzero((fids[1:] != fids[:-1]) | _term_neq(terms, n))
            last_start = int(kc[-1]) + 1 if kc.size else 0
            if store_pos:
                poscut = int(tfs[:last_start].sum())
                carry_pos, region_pos = posflat[poscut:], posflat[:poscut]
            else:
                carry_pos, region_pos = None, None
            carry = (
                fids[last_start:],
                pa.concat_arrays([terms.slice(last_start)]),  # compact copy
                buckets[last_start:], docs[last_start:],
                tfs[last_start:], dls[last_start:], carry_pos,
            )
            out = encode_region(
                fids[:last_start], terms.slice(0, last_start),
                buckets[:last_start], docs[:last_start],
                tfs[:last_start], dls[:last_start], region_pos,
            )
            if out is not None:
                yield out
        if carry is not None and carry[0].size:
            out = encode_region(*carry[:6], carry[6])
            if out is not None:
                yield out

    return kernel


def _encode_input(spark: SparkSession, tokens: DataFrame, cfg: EngineConfig, hot_df: dict, field_names: list[str]):
    """Shuffle-side preparation shared by full builds and epoch appends.

    The exchange feeding the encode kernel is the heaviest data movement
    of the build, so rows are slimmed before the repartition: field
    strings become tinyint ids (the kernel maps them back on output),
    tf/dl drop to int32, and the salted partition key is an INLINE
    expression rather than a named column (a named key column rides
    every shuffled row; an inline one is consumed by the partitioner).
    Returns (prepared DataFrame, partition-key Column, encode columns)."""
    fid = None
    for i, name in enumerate(field_names):
        cond = F.col("field") == name
        fid = F.when(cond, i) if fid is None else fid.when(cond, i)
    cols = [
        fid.cast("tinyint").alias("fid"),
        F.col("term"),
        F.col("docnum"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
    ]
    if cfg.index.store_positions:
        cols.append(F.col("pos"))
    base = tokens.select(*cols).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(cfg.index.n_buckets)).cast("int")
    )
    if hot_df:
        hot_rows = [(field_names.index(f), t) for f, t in hot_df if f in field_names]
        hot_dim = F.broadcast(
            spark.createDataFrame(hot_rows, "fid tinyint, term string").withColumn("_hot", F.lit(1))
        )
        base = base.join(hot_dim, ["fid", "term"], "left")
        salt = F.when(
            F.col("_hot") == 1,
            F.pmod(
                (F.col("docnum") / F.lit(cfg.index.chunk_docs)).cast("long"),
                F.lit(cfg.index.hot_salts),
            ),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    part_key = F.xxhash64("bucket", salt.cast("long"))
    enc_cols = ["bucket", "fid", "term", "docnum", "tf", "dl"]
    if cfg.index.store_positions:
        enc_cols.append("pos")
    return base, part_key, enc_cols


def _group_metrics_agg(spark: SparkSession, out_path: str) -> dict:
    """Per-group build metrics (postings/rows/bytes + per-bucket storage
    skew) over 3 tiny int columns of the just-written group.

    Driver-local pyarrow read first: a freshly-written group is hundreds
    of one-per-bucket files, and a Spark scan pays per-file footer/task
    overhead that can exceed the encode it measures at low core counts.
    Falls back to a column-pruned Spark aggregation on filesystems the
    driver can't read directly (the path that matters on a real cluster,
    where this agg is trivially parallel)."""
    try:
        import pyarrow.dataset as ds

        t = ds.dataset(out_path, format="parquet", partitioning="hive").to_table(
            columns=["bucket", "n", "row_bytes"]
        )
        pdf = t.to_pandas()
        per_bucket = pdf.groupby("bucket")["n"].sum()
        return {
            "postings": int(pdf["n"].sum()),
            "rows": int(len(pdf)),
            "bytes": int(pdf["row_bytes"].sum()),
            "max_bucket": int(per_bucket.max()) if len(per_bucket) else 0,
            "avg_bucket": float(per_bucket.mean()) if len(per_bucket) else 1.0,
        }
    except Exception:
        zero = {"postings": 0, "rows": 0, "bytes": 0, "max_bucket": 0, "avg_bucket": 1.0}
        # a group whose bucket range got no postings (tiny corpora /
        # many groups) writes only _SUCCESS — neither reader can infer a
        # schema from zero files, and zero metrics are the truth.  Only
        # decidable with a LOCAL listing: os.walk on an hdfs://|s3:// URI
        # yields nothing, which must not be read as "empty" — remote
        # paths fall through to the Spark aggregation (the whole point
        # of this branch on a real cluster) and the schema-inference
        # error for a genuinely empty remote dir is caught below.
        if os.path.isdir(out_path) and not any(
            fn.endswith(".parquet")
            for _r, _d, fns in os.walk(out_path)
            for fn in fns
        ):
            return zero
        try:
            reader = spark.read.parquet(out_path)
        except Exception as e:
            if "UNABLE_TO_INFER_SCHEMA" in str(e) or "infer schema" in str(e).lower():
                return zero
            raise
        row = (
            reader
            .groupBy("bucket")
            .agg(
                F.sum("n").alias("postings"),
                F.count(F.lit(1)).alias("rows"),
                F.sum("row_bytes").alias("bytes"),  # column-pruned: never
                # rereads the binary posting blobs
            )
            .agg(
                F.sum("postings").alias("postings"),
                F.sum("rows").alias("rows"),
                F.sum("bytes").alias("bytes"),
                F.max("postings").alias("max_bucket"),
                F.avg("postings").alias("avg_bucket"),
            )
            .collect()[0]
        )
        return {k: row[k] for k in ("postings", "rows", "bytes", "max_bucket", "avg_bucket")}


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fields: dict[str, str] | None = None,
    cfg: EngineConfig = DEFAULT,
    meta_cols: tuple[str, ...] = (),
    resume: bool = True,
    stage_partitions: int | None = None,
    prestaged: str | None = None,
) -> dict:
    """Build (or resume) the index at ``index_dir``.  Returns build metrics.

    ``stage_partitions`` pins the corpus-staging partition count (default:
    2x the session's parallelism) — pass a fixed value to keep the job
    layout identical across cluster sizes (scaling benches).

    ``prestaged``: path of the parquet directory ``corpus`` was read from.
    When given, staging is zero-copy (stage_corpus_prestaged: the input
    files ARE the stage; no rewrite pass) with automatic fallback to the
    rewrite path if the layout is unsuitable (splittable files,
    hive partitions, unreadable footers)."""
    fields = fields or {"body": "content"}
    os.makedirs(f"{index_dir}/_manifest", exist_ok=True)
    t0 = time.time()
    debug = os.environ.get("BEETLE_BUILD_DEBUG") == "1"
    _last = [t0]

    def _mark(label):
        if debug:
            now = time.time()
            print(f"[build] {label}: +{now - _last[0]:.2f}s (t={now - t0:.2f}s)", flush=True)
            _last[0] = now

    # stage only what the build consumes (doc_id + field sources + meta):
    # the corpus may carry wide provenance columns (content_sha, commit,
    # ...) that would otherwise ride the staging write AND the staged
    # read twice — at corpus scale that's whole extra passes of I/O
    needed = list(dict.fromkeys(["doc_id", *sorted(set(fields.values())), *meta_cols]))
    staged = None
    if prestaged is not None:
        from .docnums import stage_corpus_prestaged

        try:
            staged, offsets, fp = stage_corpus_prestaged(spark, prestaged, columns=needed)
        except ValueError:
            staged = None  # unsuitable layout -> rewrite path below
    if staged is None:
        staged, offsets, fp = stage_corpus(
            corpus.select(*needed), f"{index_dir}/_stage/corpus", partitions=stage_partitions
        )
    _mark('docnums + fingerprint')
    n_docs = fp["n_docs"]
    # hash of layout + scoring + fields + analyzer: a config change is a
    # rebuild even when the corpus fingerprint matches (a group bucketed
    # under an old n_buckets would otherwise serve queries pruning with
    # the new one)
    cfg_hash = cfg.layout_hash(fields)

    stats_path = f"{index_dir}/stats.json"
    prior = None
    if resume and os.path.exists(stats_path):
        with open(stats_path) as f:
            prior = json.load(f)
        if (
            prior.get("fingerprint") != fp
            or prior.get("layout_version") != INDEX_LAYOUT_VERSION
            or prior.get("layout_hash") != cfg_hash
            # an epoch-appended index can fingerprint-equal a fresh
            # full-corpus build (the xor is order-independent), but its
            # docids and postings are numbered per-epoch — resuming over
            # it would re-encode groups under full-corpus docnums while
            # keeping the per-epoch docids dimension: silent mismatches.
            # Epoch-carrying stats always force the full rebuild path.
            or set(prior.get("epochs", {"0": None})) != {"0"}
        ):
            prior = None  # corpus, layout, config or epochs changed -> full rebuild

    # Remove stale posting groups: anything without a manifest matching
    # this corpus fingerprint (leftover epoch groups from an older corpus,
    # groups from a different bucket_groups config, aborted writes).
    # Without this, a rebuild leaves ghost postings that queries scan.
    import re as _re
    import shutil as _sh

    post_root = f"{index_dir}/postings"
    if os.path.isdir(post_root):
        for d in os.listdir(post_root):
            m = _re.fullmatch(r"group=(\d+)", d)
            if not m:
                continue
            g = int(m.group(1))
            keep = False
            man_path = f"{index_dir}/_manifest/group_{g}.json"
            if g < 1000 and g < cfg.index.bucket_groups and os.path.exists(man_path):
                with open(man_path) as f:
                    man = json.load(f)
                keep = (
                    man.get("fingerprint") == fp
                    and man.get("layout_version") == INDEX_LAYOUT_VERSION
                    and man.get("layout_hash") == cfg_hash
                )
            if not keep:
                _sh.rmtree(f"{post_root}/{d}", ignore_errors=True)
                if (g >= 1000 or g >= cfg.index.bucket_groups) and os.path.exists(man_path):
                    os.remove(man_path)  # stale epoch/foreign manifest too

    docids_fut = None
    if prior is None:
        # full rebuild: clear the WHOLE docids dir first — write_docids
        # overwrites only its epoch=0 partition, so stale epoch=N
        # partitions from a previous corpus (or pre-v4 flat files) would
        # otherwise survive and collide with the new docnum range
        _sh.rmtree(f"{index_dir}/docids", ignore_errors=True)
        # ... and any tombstones: a rebuild reassigns docnums, and it IS
        # the merge that makes deletions physical (Lucene optimize)
        _sh.rmtree(f"{index_dir}/tombstones", ignore_errors=True)
        # pruned pass: only (doc_id [+meta]) ride into the docids write
        # (docnum is a pure JVM projection since round 7).  Submitted on
        # a helper thread so its tasks BACKFILL the tokenize stage's
        # scheduling gaps (guide §2.6 — the two jobs read disjoint
        # columns of the staged corpus and write disjoint outputs;
        # Spark's FIFO scheduler lets the later job use idle slots).
        # Joined right after the tokenize write below — every later step
        # is free to assume docids exist.
        from concurrent.futures import ThreadPoolExecutor

        _docids_pool = ThreadPoolExecutor(max_workers=1)
        docids_fut = _docids_pool.submit(
            write_docids,
            numbered(staged, offsets, ["doc_id", *meta_cols]),
            f"{index_dir}/docids",
            meta_cols,
        )
        _mark('write_docids submitted (overlaps tokenize)')

    # No-op resume fast path: a fully-complete index (valid prior stats
    # + every group manifest matching this fingerprint/layout) needs no
    # tokenize pass and no df aggregation — the heaviest stages of the
    # build — so a clean re-run costs only the staging fingerprint scan.
    if prior is not None:
        complete = []
        for g in range(cfg.index.bucket_groups):
            mp = f"{index_dir}/_manifest/group_{g}.json"
            if not os.path.exists(mp):
                break
            with open(mp) as mf:
                man = json.load(mf)
            if (
                man.get("fingerprint") != fp
                or man.get("layout_version") != INDEX_LAYOUT_VERSION
                or man.get("layout_hash") != cfg_hash
            ):
                break
            complete.append({**man, "skipped": True})
        if len(complete) == cfg.index.bucket_groups:
            import shutil as _sh

            _sh.rmtree(f"{index_dir}/_stage", ignore_errors=True)
            wall = time.time() - t0
            _mark('no-op resume (all manifests match)')
            return {
                "wall_s": round(wall, 3),
                "n_docs": n_docs,
                "docs_per_sec": round(n_docs / max(wall, 1e-9), 1),
                "postings": sum(m["postings"] for m in complete),
                "compressed_bytes": sum(m["compressed_bytes"] for m in complete),
                "vocab_size": prior.get("vocab_size", 0),
                "n_hot_terms": prior.get("n_hot_terms", 0),
                "groups_built": 0,
                "groups_skipped": cfg.index.bucket_groups,
                "groups": complete,
            }

    # Stage tokens to parquet once (columnar, splittable) rather than
    # JVM-cache them: the in-memory columnar store serializes/compresses
    # under the block manager lock and measurably anti-scales at high
    # local concurrency, while a parquet round-trip scales linearly and
    # doubles as the resume point for multi-group builds.
    stage_path = f"{index_dir}/_stage/tokens"
    # pruned numbering pass: only the text source columns ride through
    # Arrow into the tokenizer (no doc_id strings, no meta)
    tok_input = numbered(staged, offsets, sorted(set(fields.values())))

    # LATE STEMMING (round 7): for the stemming JVM chain the stem legs
    # inside tokenize_jvm re-evaluate the whole regex+explode subtree —
    # there is no exchange boundary between the distinct-token leg and
    # the join probe, so Catalyst computes the token stream twice (and
    # ReuseExchange cannot fire; A/B'd in OPTIMIZATION_r07.md).  Instead
    # the stage is written PRE-STEM (one regex pass, one exchange) and
    # the stem dimension is built from the column-pruned stage read;
    # both downstream consumers attach it with a broadcast join.  A doc
    # holding two source tokens with one stem then contributes duplicate
    # (field, term, docnum) rows — the encode kernel merges them after
    # its sort (adjacent by construction), and df is corrected exactly
    # below.  Positions builds keep the classic path (their position
    # lists would need an interleaving merge).
    from ..functions.analyzer import get_analyzer as _get_analyzer
    from .tokenize import resolve_impl as _resolve_impl

    _master = str(spark.conf.get("spark.master", ""))
    _impl = _resolve_impl(cfg.tokenizer, n_docs, _master)
    late_stem = (
        _impl == "jvm"
        and _get_analyzer(cfg.analyzer).do_stem
        and not cfg.index.store_positions
    )
    try:
        tokenize(
            tok_input,
            fields,
            _impl,
            analyzer_name=cfg.analyzer,
            broadcast_stems=n_docs <= cfg.index.stem_broadcast_max_docs,
            positions=cfg.index.store_positions,
            n_docs_hint=n_docs,
            apply_stems=not late_stem,
        ).write.mode("overwrite").parquet(stage_path)
    finally:
        if docids_fut is not None:
            # joined on failure too: a raising tokenize must not leave
            # the helper thread's docids write running past the build
            _docids_pool.shutdown(wait=True)
    if docids_fut is not None:
        docids_fut.result()  # surfaces any docids-write failure here
    raw_tokens = spark.read.parquet(stage_path)
    _mark('tokenize -> stage parquet (+ overlapped docids write)')

    stems_dim = None
    tokens = raw_tokens  # re-bound below for the late-stem path

    # ---- one aggregation pass over the STAGED rows feeds everything:
    # df + per-term tf sums (map-side combined); avgdl/vocab/hot derive
    # from this much smaller frame.  In the late-stem path the heavy agg
    # runs over the PRE-STEM rows (identical cost to the classic path —
    # no token-stream broadcast probe), the stem dimension is derived
    # from its vocabulary-sized OUTPUT (not from a second pass over the
    # token stream), and the token→stem mapping is applied vocab-side.
    thr = cfg.index.hot_df_threshold or max(5000, n_docs // 50)
    dfs_u = raw_tokens.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tfsum")
    )
    if late_stem:
        import pandas as _pd

        from ..functions.analyzer import _cached_stem

        def _stem_batch(batches):
            for pdf in batches:
                yield _pd.DataFrame(
                    {"term": pdf["term"], "_stem": [_cached_stem(t) for t in pdf["term"]]}
                )

        dfs_u = dfs_u.persist(StorageLevel.MEMORY_ONLY)
        stems_dim = (
            dfs_u.select("term").distinct()
            .mapInPandas(_stem_batch, "term string, _stem string")
            .persist(StorageLevel.MEMORY_ONLY)
        )
        _stems = (
            F.broadcast(stems_dim)
            if n_docs <= cfg.index.stem_broadcast_max_docs
            else stems_dim
        )
        tokens = raw_tokens.join(_stems, "term").select(
            "docnum", "field", F.col("_stem").alias("term"), "tf", "dl"
        )
        _mark('stems dim (vocab-side)')
        # vocab-side stem merge: summed row counts overcount df exactly
        # when one doc holds >= 2 source tokens sharing a stem.  That
        # can only matter for terms the build must know df EXACTLY for —
        # the hot set (df is injected into the encode kernel for salted
        # terms; every other term's df is derived inside the kernel from
        # the post-merge run length).  Overcounts are one-sided
        # (row_sum >= true df), so candidates = row_sum > thr is a
        # SUPERSET of the true hot set; re-derive exact df just for the
        # multi-source candidates from a distinct over their rows.
        dfs = (
            dfs_u.join(F.broadcast(stems_dim), "term")
            .groupBy("field", F.col("_stem").alias("term"))
            .agg(
                F.sum("df").alias("df"),
                F.sum("tfsum").alias("tfsum"),
                F.count(F.lit(1)).alias("_nsrc"),
            )
        ).persist(StorageLevel.MEMORY_ONLY)
        cand = [
            (r["field"], r["term"])
            for r in dfs.filter((F.col("df") > thr) & (F.col("_nsrc") > 1))
            .select("field", "term").collect()
        ]
        _mark(f'late-stem cand collect ({len(cand)} candidates)')
        exact_df: dict[tuple[str, str], int] = {}
        if cand:
            # source tokens of the candidates only — a tiny literal map
            # (no second stem broadcast, no full-stage probe): filter the
            # PRE-STEM stage to those tokens, remap, distinct, count
            cand_terms = sorted({t for _f, t in cand})
            src_rows = stems_dim.filter(F.col("_stem").isin(cand_terms)).collect()
            tok2stem = {r["term"]: r["_stem"] for r in src_rows}
            if len(tok2stem) <= 10_000:
                remapped = raw_tokens.filter(
                    F.col("term").isin(sorted(tok2stem))
                ).select(
                    "field",
                    F.create_map(
                        *[F.lit(x) for kv in tok2stem.items() for x in kv]
                    )[F.col("term")].alias("term"),
                    "docnum",
                )
            else:
                # a literal map this large would bloat the plan — join
                # the (still vocabulary-bounded) source-token dim instead
                _src = F.broadcast(
                    stems_dim.filter(F.col("_stem").isin(cand_terms))
                )
                remapped = raw_tokens.join(_src, "term").select(
                    "field", F.col("_stem").alias("term"), "docnum"
                )
            exact_rows = (
                remapped.distinct()
                .groupBy("field", "term").agg(F.count(F.lit(1)).alias("df"))
                .collect()
            )
            exact_df = {(r["field"], r["term"]): int(r["df"]) for r in exact_rows}
            _mark(f'late-stem exact df ({len(tok2stem)} source tokens)')
    else:
        dfs = dfs_u.persist(StorageLevel.MEMORY_ONLY)
        exact_df = {}
    if prior is None:
        # one pass gives avgdl AND vocab size (per-field term counts)
        avg_rows = dfs.groupBy("field").agg(
            F.sum("tfsum").alias("s"), F.count(F.lit(1)).alias("v")
        ).collect()
        _mark('df/avgdl (tokens materialize)')
        avgdl = {r["field"]: float(r["s"]) / n_docs for r in avg_rows}
        # exact per-field token totals ride along so epoch appends can
        # merge avgdl without mistaking the 1.0 empty-field placeholder
        # below for real mass
        dl_totals = {r["field"]: float(r["s"]) for r in avg_rows}
        for fname in fields:
            avgdl.setdefault(fname, 1.0)
            dl_totals.setdefault(fname, 0.0)
        vocab_size = sum(int(r["v"]) for r in avg_rows)
    else:
        avgdl = prior["avgdl"]
        dl_totals = prior.get("dl_totals", {})
        vocab_size = prior.get("vocab_size", 0)

    # ---- hot-term detection (Zipf head -> salted encode).  Late-stem:
    # candidates' row-count df is replaced by the exact recount, so the
    # hot SET and every injected df equal the classic path bit-for-bit.
    hot_rows = dfs.filter(F.col("df") > thr).select("field", "term", "df").collect()
    hot_df = {}
    for r in hot_rows:
        key = (r["field"], r["term"])
        d = exact_df.get(key, int(r["df"]))
        if d > thr:
            hot_df[key] = d
    dfs.unpersist()
    if late_stem:
        dfs_u.unpersist()
    _mark('hot df + vocab')

    stats = {
        "n_docs": n_docs,
        # the next free docnum for epoch appends: n_docs at build time,
        # PRESERVED by optimize (docnums stay sparse after a merge — an
        # append offsetting from the post-merge n_docs would collide)
        "next_docnum": n_docs,
        "dl_totals": dl_totals,
        "avgdl": avgdl,
        "fields": sorted(fields),
        "field_boosts": dict(cfg.bm25.field_boosts),
        "k1": cfg.bm25.k1,
        "b": cfg.bm25.b,
        "n_buckets": cfg.index.n_buckets,
        "chunk_docs": cfg.index.chunk_docs,
        "block_size": cfg.index.block_size,
        "blocks_per_row": cfg.index.blocks_per_row,
        "vocab_size": vocab_size,
        "n_hot_terms": len(hot_df),
        "hot_df_threshold": thr,
        "fingerprint": fp,
        "layout_version": INDEX_LAYOUT_VERSION,
        "layout_hash": cfg_hash,
        "analyzer": cfg.analyzer,
        "store_positions": cfg.index.store_positions,
        "tokenizer": cfg.tokenizer,
        # per-epoch encode-time stats (incremental refreshes append here;
        # queries rescale stored score bounds across epochs)
        "epochs": {"0": {"n_docs": n_docs, "avgdl": avgdl}},
    }

    # ---- salted, bucketed encode in resumable groups
    group_metrics = _encode_groups(
        spark, tokens, index_dir, cfg, stats, hot_df, fp, cfg_hash, resume, _mark
    )
    if stems_dim is not None:
        stems_dim.unpersist()

    import shutil as _sh

    _sh.rmtree(f"{index_dir}/_stage", ignore_errors=True)
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=1)
    _mark('stage cleanup + stats')

    wall = time.time() - t0
    built = [m for m in group_metrics if not m.get("skipped")]
    metrics = {
        "wall_s": round(wall, 3),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / max(wall, 1e-9), 1),
        "postings": sum(m["postings"] for m in group_metrics),
        "compressed_bytes": sum(m["compressed_bytes"] for m in group_metrics),
        "vocab_size": vocab_size,
        "n_hot_terms": len(hot_df),
        "groups_built": len(built),
        "groups_skipped": cfg.index.bucket_groups - len(built),
        "groups": group_metrics,
    }
    with open(f"{index_dir}/_manifest/build.json", "w") as f:
        json.dump(metrics, f, indent=1)
    return metrics


def _encode_groups(
    spark: SparkSession,
    tokens: DataFrame,
    index_dir: str,
    cfg: EngineConfig,
    stats: dict,
    hot_df: dict,
    fp: str,
    cfg_hash: str,
    resume: bool,
    _mark=lambda s: None,
    out_root: str | None = None,
) -> list[dict]:
    """The salted, bucketed, group-resumable encode shared by full builds
    and optimize_index: token rows -> posting parquet + group manifests.
    Bucket-major shuffle key: a reduce task owns whole buckets (salted
    hot terms excepted), so partitionBy(bucket) writes ~1 file per bucket
    instead of tasks x buckets small files.

    ``out_root`` redirects postings + manifests to a staging root (the
    optimize_index path: encode beside the live index, swap after
    success); default writes into ``index_dir`` itself (full builds)."""
    root = out_root or index_dir
    groups = cfg.index.bucket_groups
    p_enc = cfg.index.encode_partitions or spark.sparkContext.defaultParallelism
    field_names = sorted(stats["fields"])
    kernel = _make_encode_kernel(cfg, stats, hot_df, field_names=field_names)
    base, part_key, enc_cols = _encode_input(spark, tokens, cfg, hot_df, field_names)

    group_metrics = []
    for g in range(groups):
        man_path = f"{root}/_manifest/group_{g}.json"
        if resume and os.path.exists(man_path):
            with open(man_path) as f:
                man = json.load(f)
            if (
                man.get("fingerprint") == fp
                and man.get("layout_version") == INDEX_LAYOUT_VERSION
                and man.get("layout_hash") == cfg_hash
            ):
                man["skipped"] = True
                group_metrics.append(man)
                continue
        tg = time.time()
        sel = base.filter(F.pmod(F.col("bucket"), F.lit(groups)) == g)
        enc = (
            sel.repartition(p_enc, part_key)
            .sortWithinPartitions("fid", "term", "docnum")
            .select(*enc_cols)
            .mapInArrow(kernel, schema=POSTINGS_SCHEMA)
        )
        out_path = f"{root}/postings/group={g}"
        # token rows are narrow (~40 B); 64k-row Arrow batches cut the
        # per-batch Python/carry overhead of the encode kernel ~6x vs the
        # session default 10k (which is sized for wide document rows).
        # Scoped to this action only — doc-level UDF batches stay small.
        batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old_batch = spark.conf.get(batch_key)
        spark.conf.set(batch_key, "65536")
        try:
            enc.write.mode("overwrite").partitionBy("bucket").parquet(out_path)
        finally:
            spark.conf.set(batch_key, old_batch)
        _mark(f'encode group {g} write')
        wall = time.time() - tg
        agg = _group_metrics_agg(spark, out_path)
        man = {
            "group": g,
            "fingerprint": fp,
            "layout_version": INDEX_LAYOUT_VERSION,
            "layout_hash": cfg_hash,
            "wall_s": round(wall, 3),
            "postings": int(agg["postings"] or 0),
            "rows": int(agg["rows"] or 0),
            "compressed_bytes": int(agg["bytes"] or 0),
            "postings_per_sec": round((agg["postings"] or 0) / max(wall, 1e-9), 1),
            "skew_ratio": round(float(agg["max_bucket"] or 0) / max(float(agg["avg_bucket"] or 1), 1e-9), 3),
            "skipped": False,
        }
        _mark(f'group {g} metrics agg')
        with open(man_path, "w") as f:
            json.dump(man, f, indent=1)
        group_metrics.append(man)
    return group_metrics


def _make_decode_kernel(deleted: np.ndarray, positions: bool):
    """mapInPandas kernel: posting rows -> the token-stage rows they were
    encoded from (docnum, field, term, tf, dl[, pos]), minus tombstoned
    docnums.  Per-row numpy decode at the same ~1024-posting granularity
    the query kernels work at."""

    def kernel(batches):
        for pdf in batches:
            docs_out, fld_out, trm_out, tf_out, dl_out = [], [], [], [], []
            pos_out: list = []
            pos_col = pdf["pos"] if positions else [b""] * len(pdf)
            for f_, t_, docs_, tfs_, dls_, pos_ in zip(
                pdf["field"], pdf["term"], pdf["docs"], pdf["tfs"], pdf["dls"], pos_col
            ):
                d = decode_docgaps(docs_)
                tf = varint_decode(tfs_).astype(np.int64)
                dl = varint_decode(dls_).astype(np.int64)
                m = ~np.isin(d, deleted) if deleted.size else np.ones(d.size, dtype=bool)
                kept = int(m.sum())
                if kept == 0:
                    continue
                docs_out.append(d[m])
                tf_out.append(tf[m])
                dl_out.append(dl[m])
                fld_out.append(np.full(kept, f_, dtype=object))
                trm_out.append(np.full(kept, t_, dtype=object))
                if positions:
                    flat, starts = decode_positions(pos_, tf)
                    ends = starts + tf
                    pos_out.extend(
                        flat[s:e].astype(np.int32).tolist()
                        for s, e, km in zip(starts, ends, m)
                        if km
                    )
            if not docs_out:
                continue
            out = {
                "docnum": np.concatenate(docs_out),
                "field": np.concatenate(fld_out),
                "term": np.concatenate(trm_out),
                "tf": np.concatenate(tf_out).astype(np.int32),
                "dl": np.concatenate(dl_out).astype(np.int32),
            }
            if positions:
                out["pos"] = pos_out
            yield pd.DataFrame(out)

    return kernel


def config_from_stats(index_dir: str, stats: dict) -> EngineConfig:
    """Reconstruct the build config an index was written with from its
    stats.json (+ the on-disk group count).  Lets maintenance operators
    (optimize_index) run without the caller re-supplying the config."""
    import re as _re

    man_dir = f"{index_dir}/_manifest"
    groups = 0
    if os.path.isdir(man_dir):
        for fn in os.listdir(man_dir):
            m = _re.fullmatch(r"group_(\d+)\.json", fn)
            if m and int(m.group(1)) < 1000:  # >=1000 are epoch groups
                groups += 1
    return EngineConfig(
        bm25=BM25Params(
            k1=stats["k1"], b=stats["b"], field_boosts=dict(stats["field_boosts"])
        ),
        index=IndexConfig(
            n_buckets=stats["n_buckets"],
            block_size=stats["block_size"],
            blocks_per_row=stats["blocks_per_row"],
            chunk_docs=stats["chunk_docs"],
            hot_df_threshold=stats.get("hot_df_threshold"),
            bucket_groups=max(groups, 1),
            store_positions=bool(stats.get("store_positions", False)),
        ),
        tokenizer=stats.get("tokenizer", "auto"),
        analyzer=stats.get("analyzer", "whoosh"),
    )


def optimize_index(spark: SparkSession, index_dir: str, cfg: EngineConfig | None = None) -> dict:
    """Physically merge the index: apply tombstones and collapse epochs —
    Lucene's forceMerge(1) + expungeDeletes (Whoosh: ``optimize()``).

    The decoded postings ARE the token stage: every posting row decodes
    back to the (docnum, field, term, tf, dl[, pos]) rows it was encoded
    from, so the merge re-runs the build's own stats + salted-encode path
    over them — no corpus re-read, no re-tokenize.  After the merge:

    * deleted docs are physically gone (postings AND docids); the
      tombstone directory is removed, so queries stop shipping the mask
    * N / df / avgdl / block-max bounds are recomputed FRESH over the
      surviving docs (this is the point where stale-stats deletion
      semantics catch up — scores now equal a from-scratch rebuild of
      the filtered corpus, which is exactly how the pytest oracle and
      the engine_optimize driver entry verify it)
    * all epochs collapse to epoch 0 (docnums are KEPT, the docnum space
      just becomes sparse — kernels never assumed density)

    One distributed decode pass + the standard encode shuffle; at scale
    this is the same cost profile as a Lucene segment merge: read +
    rewrite the posting storage once.

    Crash safety: the merged postings are encoded into ``_stage/opt``
    (with their own group manifests) and only swapped over the live
    ``postings/`` + ``docids/`` via directory renames AFTER the whole
    encode succeeds — a failure anywhere up to the swap leaves the
    original index byte-identical and serving.  A retried optimize
    resumes at group granularity: the rotated fingerprint is a pure
    function of (old fingerprint, survivor count, optimize count,
    tombstone count), so staged manifests from the crashed attempt
    short-circuit their groups while stale pre-merge manifests never
    can.  The only non-atomic window is the pair of renames (metadata
    ops, microseconds); a crash exactly there leaves NO postings dir —
    a loud open-time failure, never a silently half-merged index — with
    the full staged result still on disk for recovery.
    """
    import shutil as _sh

    t0 = time.time()
    stats_path = f"{index_dir}/stats.json"
    with open(stats_path) as f:
        stats = json.load(f)
    if cfg is None:
        cfg = config_from_stats(index_dir, stats)
    else:
        # a caller-supplied cfg must agree with the stored layout: the
        # merge would otherwise re-bucket postings under the new params
        # while stats.json keeps the old ones — queries then prune with
        # the stale n_buckets and silently miss postings.  Loud beats
        # silent: validate every layout-affecting field.
        mismatched = {
            k: (got, want)
            for k, got, want in (
                ("n_buckets", cfg.index.n_buckets, stats["n_buckets"]),
                ("chunk_docs", cfg.index.chunk_docs, stats["chunk_docs"]),
                ("block_size", cfg.index.block_size, stats["block_size"]),
                ("blocks_per_row", cfg.index.blocks_per_row,
                 stats.get("blocks_per_row", cfg.index.blocks_per_row)),
                ("store_positions", cfg.index.store_positions,
                 bool(stats.get("store_positions", False))),
            )
            if got != want
        }
        if mismatched:
            raise ValueError(
                "optimize_index cfg disagrees with the index's stored layout "
                f"({mismatched}); pass cfg=None to derive it from stats.json"
            )
    store_pos = bool(stats.get("store_positions", False))

    tomb_dir = f"{index_dir}/tombstones"
    deleted = np.array([], dtype=np.int64)
    if os.path.isdir(tomb_dir):
        rows = spark.read.parquet(tomb_dir).select("docnum").distinct().collect()
        deleted = np.array(sorted(int(r["docnum"]) for r in rows), dtype=np.int64)

    # ---- 1. docids minus deleted, collapsed to one epoch (anti-join,
    # not an IN list: the tombstone set can be arbitrarily large).
    # Survivor count first: refusing an empty merge must happen BEFORE
    # any decode work, and an all-deleted index would otherwise stage an
    # empty (schema-less) parquet dir.
    docids = spark.read.parquet(f"{index_dir}/docids")
    kept = docids.select(*[c for c in docids.columns if c != "epoch"])
    if deleted.size:
        tomb = spark.read.parquet(tomb_dir).select("docnum").distinct()
        kept = kept.join(tomb, "docnum", "left_anti")
    docids_tmp = f"{index_dir}/_stage/docids_opt"
    kept.write.mode("overwrite").parquet(f"{docids_tmp}/epoch=0")
    n_docs = spark.read.parquet(docids_tmp).count()
    if n_docs == 0:
        raise ValueError("optimize_index would produce an empty index")

    # ---- 2. decode postings -> staged token rows (minus tombstones).
    # The stage write MATERIALIZES the decode before any old file is
    # removed — a crash mid-optimize leaves the original index intact.
    postings = spark.read.parquet(f"{index_dir}/postings")
    cols = ["field", "term", "docs", "tfs", "dls"] + (["pos"] if store_pos else [])
    stage = f"{index_dir}/_stage/merge_tokens"
    (
        postings.select(*cols)
        .mapInPandas(
            _make_decode_kernel(deleted, store_pos),
            schema=TOKENS_SCHEMA_POS if store_pos else TOKENS_SCHEMA,
        )
        .write.mode("overwrite")
        .parquet(stage)
    )
    tokens = spark.read.parquet(stage)

    # ---- 3. fresh stats over the survivors (same formulas as build)
    thr = cfg.index.hot_df_threshold or max(5000, n_docs // 50)
    dfs = (
        tokens.groupBy("field", "term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tfsum"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    avg_rows = dfs.groupBy("field").agg(
        F.sum("tfsum").alias("s"), F.count(F.lit(1)).alias("v")
    ).collect()
    avgdl = {r["field"]: float(r["s"]) / n_docs for r in avg_rows}
    dl_totals = {r["field"]: float(r["s"]) for r in avg_rows}
    for fname in stats["fields"]:
        avgdl.setdefault(fname, 1.0)
        dl_totals.setdefault(fname, 0.0)
    vocab_size = sum(int(r["v"]) for r in avg_rows)
    hot_rows = dfs.filter(F.col("df") > thr).select("field", "term", "df").collect()
    hot_df = {(r["field"], r["term"]): int(r["df"]) for r in hot_rows}
    dfs.unpersist()

    opt_n = int(stats.get("optimize_count", 0)) + 1
    # rotate the fingerprint structurally (it is the corpus-identity dict
    # stage_corpus produces): a merged index is a different artifact, so
    # old group manifests must never short-circuit a later build/resume
    old_fp = stats["fingerprint"]
    fp = dict(old_fp) if isinstance(old_fp, dict) else {"base": old_fp}
    fp.update(n_docs=n_docs, optimized=opt_n, purged=int(deleted.size))
    cfg_hash = stats["layout_hash"]  # layout unchanged by a merge
    new_stats = dict(stats)
    new_stats.update(
        n_docs=n_docs,
        # docnums are KEPT by the merge (the space just goes sparse), so
        # the next free docnum for appends is preserved, not reset to the
        # post-merge n_docs — resetting would hand out colliding docnums
        next_docnum=int(stats.get("next_docnum", stats["n_docs"])),
        dl_totals=dl_totals,
        avgdl=avgdl,
        vocab_size=vocab_size,
        n_hot_terms=len(hot_df),
        hot_df_threshold=thr,
        fingerprint=fp,
        optimize_count=opt_n,
        epochs={"0": {"n_docs": n_docs, "avgdl": avgdl}},
    )

    # ---- 4. staged encode, then swap.  The live index is not touched
    # until every group is encoded: a crash mid-encode leaves the
    # original postings/docids/stats intact (and the staged groups
    # resume on retry — fp is deterministic given the same tombstones).
    stage_root = f"{index_dir}/_stage/opt"
    os.makedirs(f"{stage_root}/_manifest", exist_ok=True)
    group_metrics = _encode_groups(
        spark, tokens, index_dir, cfg, new_stats, hot_df, fp, cfg_hash,
        resume=True, out_root=stage_root,
    )
    # swap: pure directory renames.  Ordering keeps every intermediate
    # crash state either loud (no postings dir, microsecond window) or
    # semantically correct (merged postings + still-stale stats ==
    # engine deletion semantics until the stats write lands).
    old_postings = f"{index_dir}/_stage/postings_old"
    _sh.rmtree(old_postings, ignore_errors=True)
    os.replace(f"{index_dir}/postings", old_postings)
    os.replace(f"{stage_root}/postings", f"{index_dir}/postings")
    old_docids = f"{index_dir}/_stage/docids_old"
    _sh.rmtree(old_docids, ignore_errors=True)
    os.replace(f"{index_dir}/docids", old_docids)
    os.replace(docids_tmp, f"{index_dir}/docids")
    man_dir = f"{index_dir}/_manifest"
    os.makedirs(man_dir, exist_ok=True)
    for fn in os.listdir(man_dir):
        if fn.startswith("group_"):
            os.remove(f"{man_dir}/{fn}")
    for fn in os.listdir(f"{stage_root}/_manifest"):
        os.replace(f"{stage_root}/_manifest/{fn}", f"{man_dir}/{fn}")
    with open(stats_path, "w") as f:
        json.dump(new_stats, f, indent=1)
    _sh.rmtree(tomb_dir, ignore_errors=True)
    _sh.rmtree(f"{index_dir}/_stage", ignore_errors=True)

    wall = time.time() - t0
    metrics = {
        "wall_s": round(wall, 3),
        "n_docs": n_docs,
        "deleted_purged": int(deleted.size),
        "postings": sum(m["postings"] for m in group_metrics),
        "compressed_bytes": sum(m["compressed_bytes"] for m in group_metrics),
        "optimize_count": opt_n,
        "groups": group_metrics,
    }
    with open(f"{man_dir}/optimize.json", "w") as f:
        json.dump(metrics, f, indent=1)
    return metrics
