"""Near-duplicate detection at corpus scale: MinHash-LSH, SimHash,
connected components, exact dedup (SURVEY §2.12, BASELINE north star).

The reference has no dedup of any kind; these are the LLM-data-pipeline
operators the driver contract adds. Everything is composed from
DataFrame primitives — explode / hash / groupBy / self-join on band
keys — so each stage is one shuffle, partition-parallel, and survives a
100 TB corpus:

- signatures: ZERO shuffle — JVM tokenize + per-token hash (one
  codegen pass, no per-gram strings), then the rolling shingle
  polynomial and all permutation minima in one Arrow-batched numpy
  kernel per partition;
- candidate generation: self-join on (band_id, band_hash) — an
  equi-join on a uniform high-cardinality key, never an O(n^2) cross
  join;
- verification: candidates only, by signature agreement (and optionally
  exact n-gram Jaccard via queries/text.py's inverted-index join).

Hash choice: Spark's built-in murmur/xxhash64 (JVM, codegen) as the
base. Hashes are engine-specific, so LSH results are checked by
*property* (recall vs the exact Jaccard baseline) rather than by DuckDB
value-hash — the driver records rows-only for these by design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..materialize import materialize, observe

# MinHash permutations are affine maps h(g) = (a*g + b) mod p over the
# gram universe [0, p) with p = 2^31-1 (Mersenne prime). The modulus
# MUST equal the universe size: with a 2^61-scale modulus over 2^31
# inputs, a*g+b wraps at most once, so for every a < 2^30 NOTHING
# wraps and the "permutation" preserves the natural order — the argmin
# is the globally smallest gram for half of all draws, destroying
# min-wise independence (caught by tests/test_dedup_fuzz.py: measured
# agreement 0.34 on a true-Jaccard-0.82 pair). With p = 2^31-1 the
# product a*g spans ~2^62 ≈ 2^31 * p, wrapping ~2^31 times — the
# standard Carter-Wegman construction — and arithmetic still fits
# signed-64 (max a*g + b < 2^62 + 2^31).
_M31 = (1 << 31) - 1


def _zip_ngrams(arr: Column, n: int, combine) -> Column:
    """Fold n shifted views of ``arr`` into one n-gram array via
    ``zip_with``. Interpreted higher-order lambdas get NO common-
    subexpression elimination, so indexing ``arr`` inside a per-gram
    lambda (element_at(arr, i+j)) re-evaluates the whole upstream
    expression per access — O(len^2) per row (measured 10x on sf0.1).
    zip_with evaluates ``arr`` exactly n times per row instead."""
    k = F.size(arr)
    acc = arr
    for j in range(1, n):
        # zip_with pads the shorter side with nulls; trailing partial
        # grams become null and are sliced off below.
        acc = F.zip_with(acc, F.slice(arr, j + 1, k), combine)
    return F.slice(acc, 1, F.greatest(k - (n - 1), F.lit(0)))


def shingle_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (JVM higher-order
    ops; documents shorter than n words yield an empty set)."""
    c = col if isinstance(col, Column) else F.col(col)
    toks = F.split(F.trim(c), r"\s+")
    grams = _zip_ngrams(
        toks, n, lambda a, b: F.concat_ws(" ", a, b)
    )
    return F.array_distinct(grams)


def _perm_coeffs(num_perm: int, seed: int) -> list[tuple[int, int]]:
    # a in [1, p), b in [0, p): the Carter-Wegman family over Z_p
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _M31, size=num_perm, dtype=np.int64)
    b = rng.integers(0, _M31, size=num_perm, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def _sig_kernel(num_perm: int, seed: int, shingle_n: int, id_name: str):
    """Arrow-batched numpy kernel (``mapInArrow`` form): from per-doc
    TOKEN-hash arrays, the rolling shingle polynomial AND all
    permutation minima in one C sweep per batch. Doing the n-gram fold
    here (instead of zip_with column expressions) keeps the whole
    shingle pipeline out of the interpreted higher-order-function path —
    one flat vectorized pass over every token in the batch. MinHash
    minima are insensitive to duplicate shingles, so no distinct step
    is needed anywhere.

    mapInArrow instead of a pandas_udf (r13 optimization, guide §4.2):
    the kernel's natural inputs are exactly an Arrow ListArray's
    buffers — one flat int64 values vector plus per-row lengths — so
    reading the record batch directly skips the Arrow->pandas
    materialization of one Python object per row that dominated the
    signature stage (measured x0.47 at sf0.1, bit-identical output;
    the numpy math below is unchanged from the pandas_udf form).

    The gram value matches the old zip_with fold bit-for-bit:
    (sum_j h_j * 8191^(n-1-j)) mod M31 with h_j pre-reduced mod M31
    (congruent to the chained Horner form, and both land reduced).

    Docs with fewer than ``shingle_n`` tokens (or NULL input) yield
    NULL signatures."""
    coeffs = _perm_coeffs(num_perm, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    # h < 2^31 and 8191^2 < 2^27, so each term < 2^57: n=3 sums stay
    # far from int64 overflow.
    P = np.array(
        [8191 ** (shingle_n - 1 - j) for j in range(shingle_n)],
        dtype=np.int64,
    )

    def sig_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        n = shingle_n
        for batch in batches:
            ids = batch.column(0)
            th = batch.column(1)
            # per-row token counts; NULL token arrays count as 0 (and
            # flatten() below skips null slots), mirroring the old
            # per-row None handling
            lens = pc.list_value_length(th).fill_null(0).to_numpy(
                zero_copy_only=False).astype(np.int64)
            nrows = len(lens)
            gcounts = np.maximum(lens - n + 1, 0)
            valid_out = gcounts > 0
            if gcounts.sum() == 0:
                sig = pa.ListArray.from_arrays(
                    pa.array(np.zeros(nrows + 1, dtype=np.int32)),
                    pa.array([], type=pa.int64()),
                    mask=pa.array(~valid_out))
                yield pa.RecordBatch.from_arrays(
                    [ids, sig], [id_name, "sig"])
                continue
            flat = th.flatten().to_numpy(
                zero_copy_only=False).astype(np.int64) % _M31
            ne_lens = lens[lens > 0]
            # gram values over the concatenated token stream ...
            gall = np.zeros(len(flat) - n + 1, dtype=np.int64)
            for j in range(n):
                gall += flat[j: len(flat) - n + 1 + j] * P[j]
            gall %= _M31
            # ... dropping the grams that straddle a row boundary
            starts = np.zeros(len(ne_lens), dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=starts[1:])
            valid = np.ones(len(gall), dtype=bool)
            for j in range(1, n):
                # clamp both ends: a short FINAL doc (< n-1 tokens)
                # puts its boundary-cross positions past the end
                cross = starts[1:] - j
                valid[cross[(cross >= 0) & (cross < len(gall))]] = False
            gvalid = gall[valid]
            ne_g = np.maximum(ne_lens - n + 1, 0)
            seg = ne_g[ne_g > 0]
            goffs = np.zeros(len(seg), dtype=np.int64)
            np.cumsum(seg[:-1], out=goffs[1:])
            mins = np.empty((len(seg), num_perm), dtype=np.int64)
            for i in range(num_perm):
                vals = (A[i] * gvalid + B[i]) % _M31
                mins[:, i] = np.minimum.reduceat(vals, goffs)
            offs = np.zeros(nrows + 1, dtype=np.int32)
            np.cumsum(
                np.where(valid_out, num_perm, 0).astype(np.int32),
                out=offs[1:],
            )
            sig = pa.ListArray.from_arrays(
                pa.array(offs), pa.array(mins.reshape(-1)),
                mask=pa.array(~valid_out))
            yield pa.RecordBatch.from_arrays([ids, sig], [id_name, "sig"])

    return sig_batches


def portable_token_hash(t: Column) -> Column:
    """Engine-portable token hash: the first 15 hex digits of the
    token's md5 as an integer in [0, 2^60) — reproducible in any
    engine with md5 (DuckDB parses the same digits with a digit fold),
    unlike Spark's murmur3 ``hash``. Feeding this into the signature
    kernel makes the whole MinHash pipeline value-checkable against a
    SQL oracle."""
    return F.conv(
        F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
    ).cast("long")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, shingle_n: int = 3,
                       seed: int = 42,
                       udf_partitions: int | None = None,
                       portable_hash: bool = False) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) — ZERO-shuffle map-side
    signatures: JVM-side shingle hashing feeds an Arrow-batched numpy
    kernel that takes all permutation minima per batch. (An explode +
    64-way grouped min would shuffle every shingle — ~200x the row
    count — for no benefit; at corpus scale signatures must stay
    embarrassingly parallel so the band join is the only shuffle in
    the pipeline.)

    Documents with no shingles (shorter than shingle_n words) are
    dropped, matching grouped-agg semantics.
    """
    if udf_partitions is not None:
        # Arrow-batch efficiency knob: per-partition Python-worker
        # round-trips dominate when partitions are tiny (a small file
        # split across defaultParallelism). repartition (not coalesce):
        # the shuffle decouples scan parallelism from UDF batch sizing —
        # measured 2x faster than either alternative at fixture scale.
        # At corpus scale leave None — partitions are already data-sized.
        df = df.repartition(udf_partitions)
    c = F.col(text_col)
    tok_hash = (
        portable_token_hash if portable_hash
        else (lambda t: F.hash(t).cast("long"))
    )
    token_hashes = F.transform(F.split(F.trim(c), r"\s+"), tok_hash)
    kernel = _sig_kernel(num_perm, seed, shingle_n, id_col)
    out_schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("sig", ArrayType(LongType())),
    ])
    return (
        # explicit 2-column projection before the opaque map (guide
        # §4.1): mapInArrow ships every column it receives
        df.select(F.col(id_col), token_hashes.alias("_th"))
        .mapInArrow(kernel, out_schema)
        .filter(F.col("sig").isNotNull())
    )


def band_postings(sigs: DataFrame, id_col: str, bands: int, r: int,
                  portable: bool = False) -> DataFrame:
    """(_id, band_id, band_hash) LSH postings from a signature frame —
    the skinny rows every band join (batch self-join or incremental
    index probe) moves; the num_perm-long signature array never enters
    a shuffle.

    ``portable`` keys bands on the minima TUPLE itself: band-key
    equality is then EXACTLY minima-tuple equality (no 2^-64
    hash-collision candidates), which an exact SQL oracle can
    reproduce. Since r13 the tuple is packed as a struct of longs —
    each minimum is < 2^31 (Carter-Wegman mod M31), so adjacent pairs
    pack bijectively into ``m_lo * 2^31 + m_hi`` — instead of the old
    comma-joined decimal STRING: key equality is unchanged (packing is
    injective), but the posting row shrinks (~43 string bytes -> 16
    key bytes at r=4) and the self-join compares/hashes longs instead
    of strings, with no per-posting int->string formatting (guide
    §2.3: shuffle fewer bytes). The compact xxhash64 key stays the
    default for the engine-hash mode's narrower shuffle.

    (The key stays inside the ``transform(sequence(...))`` higher-order
    form: statically unrolling the 16 struct expressions into an array
    literal was measured 4-6x SLOWER to build at sf0.1 — the 64-getItem
    projection falls out of whole-stage codegen — while the small HOF
    lambda evaluates cheaply per band.)"""
    sig = F.col("sig")
    if portable:
        def bkey(b: Column) -> Column:
            fields = []
            j = 0
            while j < r:
                lo = F.get(sig, b * r + j)
                if j + 1 < r:
                    hi = F.get(sig, b * r + j + 1)
                    fields.append(
                        (lo * F.lit(1 << 31) + hi).alias(f"k{j // 2}")
                    )
                else:
                    fields.append(lo.alias(f"k{j // 2}"))
                j += 2
            return F.struct(*fields)
    else:
        def bkey(b: Column) -> Column:
            return F.xxhash64(
                F.concat_ws(",", F.slice("sig", b * r + 1, r))
            )
    return sigs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), bkey)
        ).alias("band_id", "band_hash"),
    ).select("_id", "band_id", "band_hash")


def _cap_postings(postings: DataFrame, max_per_bucket: int,
                  keys: tuple[str, ...] = ("band_id", "band_hash"),
                  id_col: str = "_id", *, label: str) -> DataFrame:
    """Per-bucket posting cap: any (band_id, band_hash) bucket larger
    than ``max_per_bucket`` is thinned to ~that size by a deterministic
    hash sample of its member ids.

    This is the defense-in-depth half of the hot-band mitigation (the
    primary half is the identical-signature collapse in the pair
    functions): even after collapse, a heavily templated corpus can
    put many DISTINCT signatures into one band bucket, and the
    band self-join is quadratic in bucket size. The cap bounds any
    bucket's contribution to ~max_per_bucket^2 candidate pairs.

    Scale shape: bucket sizes come from one map-side-combining count
    aggregation; the (rare) oversized keys are broadcast back. No
    window sort ever lands a multi-million-row bucket in one task.
    Dropped postings lose ONLY that band's vote for their pairs —
    the other bands still probe. Fully LAZY (round 5, same fix as
    shingles.drop_stop_shingles): the hot-bucket frame is empty on
    clean corpora and the left join passes everything through — the
    old eager count()+first() probe spent two full aggregate jobs per
    call purely on logging/no-op detection. Drop volume is observed on
    the hot frame instead: after the caller's action,
    ``materialize.counters(label)`` returns ``n_hot`` and
    ``dropped_postings``.
    """
    sizes = (
        postings.groupBy(*keys)
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > max_per_bucket)
    )
    sizes, _ = observe(
        sizes, label, n_hot=F.count(F.lit(1)),
        dropped_postings=F.coalesce(F.sum(F.col("_bn") - max_per_bucket), F.lit(0)),
    )
    keep_frac = F.lit(max_per_bucket) / F.col("_bn")
    u = (
        F.pmod(
            F.xxhash64(F.col(id_col), *[F.col(k) for k in keys]),
            F.lit(1_000_000),
        )
        / F.lit(1_000_000.0)
    )
    return (
        postings.join(F.broadcast(sizes), list(keys), "left")
        .filter(F.col("_bn").isNull() | (u < keep_frac))
        .drop("_bn")
    )


def _expand_group_pairs(rep_pairs: DataFrame, mem: DataFrame,
                        score_col: str, max_group_expand: int) -> DataFrame:
    """Expand representative-level near-dup pairs back to document
    pairs, plus intra-group pairs for collapsed identical-key groups.

    ``mem`` is (_rep, _member, _gn); identical-key groups share the
    representative's score with every member, so:
    - small x small cross-group rep pairs expand to all member pairs
      (bit-identical to the uncollapsed output);
    - any pair touching a group larger than ``max_group_expand`` stays
      at the representative level (the full expansion is inherently
      O(|A|x|B|) — at corpus scale you want the cluster certificate,
      not a quadratic pair list);
    - intra-group: all pairs for small groups, a star on the
      representative for large ones (same component structure either
      way, O(c) rows instead of O(c^2)).
    """
    perfect = F.lit(1.0) if score_col == "est_jaccard" else F.lit(0)
    small = mem.filter(F.col("_gn") <= max_group_expand)
    sm_a = small.select(F.col("_rep").alias("_r"), F.col("_member").alias("id_a"))
    sm_b = small.select(F.col("_rep").alias("_r"), F.col("_member").alias("id_b"))
    intra_small = (
        sm_a.join(sm_b, "_r")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", perfect.alias(score_col))
    )
    # the representative is the group min id, so rep < member always
    intra_large = (
        mem.filter((F.col("_gn") > max_group_expand)
                   & (F.col("_member") != F.col("_rep")))
        .select(F.col("_rep").alias("id_a"), F.col("_member").alias("id_b"),
                perfect.alias(score_col))
    )
    gsz_a = mem.select(F.col("_rep").alias("id_a"), F.col("_gn").alias("_gna")).distinct()
    gsz_b = mem.select(F.col("_rep").alias("id_b"), F.col("_gn").alias("_gnb")).distinct()
    rp = rep_pairs.join(gsz_a, "id_a").join(gsz_b, "id_b")
    big = (F.col("_gna") > max_group_expand) | (F.col("_gnb") > max_group_expand)
    cross_large = rp.filter(big).select("id_a", "id_b", score_col)
    mem_a = small.select(F.col("_rep").alias("id_a"), F.col("_member").alias("_ma"))
    mem_b = small.select(F.col("_rep").alias("id_b"), F.col("_member").alias("_mb"))
    cross_small = (
        rp.filter(~big)
        .join(mem_a, "id_a").join(mem_b, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            F.col(score_col),
        )
    )
    return cross_small.unionByName(cross_large).unionByName(
        intra_small
    ).unionByName(intra_large)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 64, bands: int = 16,
                      shingle_n: int = 3, threshold: float = 0.5,
                      seed: int = 42,
                      udf_partitions: int | None = None,
                      collapse_identical: bool = True,
                      max_group_expand: int = 32,
                      max_postings_per_band: int | None = 4096,
                      portable_hash: bool = False) -> DataFrame:
    """Near-dup pairs (id_a, id_b, est_jaccard) via banded MinHash-LSH.

    bands=16 over 64 perms -> rows-per-band r=4; the LSH S-curve puts
    the 50%-capture point near (1/bands)^(1/r) ≈ 0.5. est_jaccard is
    the fraction of agreeing permutations, computed on the candidate
    pairs only.

    Hot-band mitigation (the duplicate-heavy-corpus case): identical
    documents produce IDENTICAL signatures, hence share every band
    hash, so a cluster of c exact dups puts c postings in 16 hot
    buckets and the band self-join emits O(c^2) candidate rows. With
    ``collapse_identical`` (default), signatures are first grouped by
    value and only one representative per identical-signature group
    enters the band join; member pairs are reconstructed afterwards —
    exactly for groups ≤ ``max_group_expand`` (bit-identical output to
    the uncollapsed path), as an O(c) representative star for larger
    groups. ``max_postings_per_band`` additionally caps any residual
    bucket of DISTINCT signatures (templated corpora) via
    ``_cap_postings``; None disables.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    r = num_perm // bands
    # Materialize signatures once: the self-join below reads them from
    # both sides, and without this the whole shingle+UDF pipeline runs
    # twice (at cluster scale: persist signatures, join the stored table).
    sigs_raw = minhash_signatures(
        df, id_col, text_col, num_perm, shingle_n, seed, udf_partitions,
        portable_hash=portable_hash,
    )

    mem = None
    if collapse_identical:
        # One representative (min id) per distinct signature VALUE,
        # derived in a SINGLE pass (r12 opt): a window over the
        # signature annotates every row with its group's representative
        # and size, so the old {groupBy(sig) -> reps materialize ->
        # sigs-x-reps membership join on the 64-long array key} becomes
        # one sig-keyed shuffle + one materialize. Measured x0.74 on
        # the whole pipeline at sf0.1 (3.7 -> 2.7 s), bit-identical
        # output. Skew posture is unchanged: the membership join this
        # replaces already shuffled every signature row by sig, so the
        # hot-group exposure (a giant identical-signature cluster in
        # one task) is the same shape it always had — bounded by the
        # largest duplicate group either way. Grouping stays on the
        # array itself, not a hash of it: no collision can ever merge
        # two genuinely different documents.
        wsig = Window.partitionBy("sig")
        # Fast path: a corpus with no exact-dup signatures (the common
        # case after an upstream exact dedup) needs no reconstruction —
        # the representative set IS the document set, so skip the
        # expansion joins entirely. The max(_gn) probe rides the
        # materialize action as an Observation metric (r13: replaces
        # the r12 separate agg+first job — zero extra jobs, same
        # pattern as connected_components' convergence check; the
        # eager checkpoint is the action that delivers it).
        mem0, read = observe(sigs_raw.select(
            id_col, "sig",
            F.min(id_col).over(wsig).alias("_rep"),
            F.count("*").over(wsig).alias("_gn"),
        ), max_gn=F.max("_gn"))
        mem0 = materialize(mem0)
        if (read()["max_gn"] or 1) == 1:
            collapse_identical = False
            sigs = mem0.select(id_col, "sig")
            band_src = sigs
        else:
            reps = mem0.filter(F.col(id_col) == F.col("_rep"))
            band_src = reps.select(id_col, "sig")
            mem = mem0.select(
                "_rep", F.col(id_col).alias("_member"), "_gn"
            )
    else:
        sigs = sigs_raw.transform(materialize)
        band_src = sigs

    # The band self-join moves SKINNY rows only (id, band_id, band_hash):
    # carrying the num_perm-long signature array through the bands-way
    # posexplode would replicate every signature `bands` times into the
    # join shuffle (measured ~2x the whole pipeline at sf0.1, and pure
    # dead weight at corpus scale). Signatures are re-attached to the
    # few surviving candidate pairs afterwards.
    band_entries = band_postings(band_src, id_col, bands, r,
                                 portable=portable_hash)
    if max_postings_per_band is not None:
        band_entries = _cap_postings(
            band_entries.transform(materialize), max_postings_per_band,
            label="minhash-band",
        )
    left = band_entries.select(F.col("_id").alias("id_a"), "band_id", "band_hash")
    right = band_entries.select(F.col("_id").alias("id_b"), "band_id", "band_hash")
    cand = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Signature lookup joins: the sig table has one row per doc (tiny
    # next to the banded postings). At fixture scale Catalyst broadcasts
    # it; at corpus scale these become shuffle hash joins on id — still
    # proportional to |docs| + |candidates|, never |postings| x sig.
    sig_src = band_src if collapse_identical else sigs
    sig_a = sig_src.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig_src.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    cand = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    rep_pairs = (
        cand.select(
            "id_a", "id_b",
            (agree.cast("double") / num_perm).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    if not collapse_identical:
        return rep_pairs
    # membership frame precomputed by the collapse window above (r12):
    # no sig-keyed array join needed here anymore.
    return _expand_group_pairs(rep_pairs, mem, "est_jaccard", max_group_expand)


def _simhash_fp_flat(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Majority vote per bit over CONCATENATED token hashes: ``flat``
    is the uint64 token-hash stream of all non-empty docs in row
    order, ``lens`` their token counts (> 0). One
    ``np.add.reduceat`` per bit position — 64 C passes over the whole
    batch instead of a Python-level loop over rows. Returns int64
    fingerprints, bit-identical to the per-row formulation
    (same popcount-majority arithmetic, just batched)."""
    goffs = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=goffs[1:])
    fp = np.zeros(len(lens), dtype=np.uint64)
    one = np.uint64(1)
    for b in range(64):
        ones = np.add.reduceat((flat >> np.uint64(b)) & one, goffs)
        fp |= (2 * ones > lens.astype(np.uint64)).astype(np.uint64) << np.uint64(b)
    return fp.view(np.int64)


@pandas_udf(LongType())
def _simhash_votes(hs: pd.Series) -> pd.Series:
    """Majority vote per bit over a doc's token hashes (the Column-API
    form behind :func:`simhash64`; :func:`simhash_fingerprints` is the
    mapInArrow frame form the pair pipeline uses). Null/empty token
    arrays (NULL or empty text upstream) yield NULL, mirroring the
    MinHash signature kernel's null handling."""
    lens = np.fromiter(
        (0 if x is None else len(x) for x in hs),
        dtype=np.int64, count=len(hs),
    )
    out: list[int | None] = [None] * len(hs)
    if lens.sum() == 0:
        return pd.Series(out, dtype="Int64")
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in hs
         if x is not None and len(x)]
    ).view(np.uint64)
    fps = _simhash_fp_flat(flat, lens[lens > 0])
    j = 0
    for row, ln in enumerate(lens):
        if ln > 0:
            out[row] = int(fps[j])
            j += 1
    return pd.Series(out, dtype="Int64")


def _simhash_kernel(id_name: str):
    """mapInArrow twin of :func:`_simhash_votes` (r13, guide §4.2):
    reads the token-hash ListArray buffers directly — flat values +
    per-row lengths — so no per-row Python object ever materializes;
    the vote math is the shared :func:`_simhash_fp_flat`."""
    def fp_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            th = batch.column(1)
            lens = pc.list_value_length(th).fill_null(0).to_numpy(
                zero_copy_only=False).astype(np.int64)
            nrows = len(lens)
            valid = lens > 0
            if not valid.any():
                fp = pa.array([None] * nrows, type=pa.int64())
                yield pa.RecordBatch.from_arrays(
                    [ids, fp], [id_name, "fp"])
                continue
            flat = th.flatten().to_numpy(
                zero_copy_only=False).astype(np.int64).view(np.uint64)
            fps = _simhash_fp_flat(flat, lens[valid])
            out = np.zeros(nrows, dtype=np.int64)
            out[valid] = fps
            fp = pa.array(out, mask=~valid)
            yield pa.RecordBatch.from_arrays([ids, fp], [id_name, "fp"])

    return fp_batches


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str,
                         portable_hash: bool = False) -> DataFrame:
    """(_id, fp) SimHash fingerprints via the mapInArrow kernel — the
    frame-level twin of the ``simhash64`` Column (r13): same JVM
    token hashing, same vote math, but the Arrow list buffers feed
    numpy directly instead of per-row pandas objects. Docs with no
    tokens (NULL/blank text) are dropped (NULL fingerprint)."""
    c = F.col(text_col)
    toks = F.when(
        F.length(F.trim(c)) > 0, F.split(F.trim(c), r"\s+")
    )
    tok_hash = (
        portable_token_hash if portable_hash
        else (lambda t: F.xxhash64(t))
    )
    kernel = _simhash_kernel("_id")
    out_schema = StructType([
        StructField("_id", df.schema[id_col].dataType),
        StructField("fp", LongType()),
    ])
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.transform(toks, tok_hash).alias("_th"),
        )
        .mapInArrow(kernel, out_schema)
        .filter(F.col("fp").isNotNull())
    )


def simhash64(col: Column | str, portable_hash: bool = False) -> Column:
    """64-bit SimHash of whitespace tokens: per-token xxhash64 JVM-side
    (one higher-order pass), bit-majority vote in an Arrow-batched
    numpy kernel. No explode, no shuffle — map-side per row.

    ``portable_hash`` votes over the md5-fold token hash instead
    (60 live bits — the top 4 fingerprint bits become constant-0,
    which preserves Hamming/pigeonhole semantics), making the
    fingerprint reproducible in a SQL oracle."""
    c = col if isinstance(col, Column) else F.col(col)
    # split(trim('')) is [''] not [], so blank out NULL/whitespace-only
    # text explicitly: those docs get a NULL fingerprint (no tokens).
    toks = F.when(
        F.length(F.trim(c)) > 0, F.split(F.trim(c), r"\s+")
    )
    tok_hash = (
        portable_token_hash if portable_hash
        else (lambda t: F.xxhash64(t))
    )
    return _simhash_votes(F.transform(toks, tok_hash))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3,
                  udf_partitions: int | None = None,
                  collapse_identical: bool = True,
                  max_group_expand: int = 32,
                  max_postings_per_chunk: int | None = 4096,
                  portable_hash: bool = False) -> DataFrame:
    """Candidate pairs within a Hamming radius via the pigeonhole band
    trick: a pair within distance k<=3 must agree exactly on at least
    one of 4 16-bit chunks, so candidates come from an equi-join on
    (chunk_id, chunk_value) and are verified with bit_count(xor).

    Hot-chunk mitigation mirrors minhash_lsh_pairs: identical texts
    share the full 64-bit fingerprint, so exact-dup clusters are
    collapsed to one representative per distinct fingerprint before
    the chunk join (exact expansion for groups ≤ max_group_expand, a
    representative star beyond), and residual chunk buckets — which at
    billion-doc scale are inherently populous, the chunk space is only
    2^16 per position — are capped via ``_cap_postings``."""
    if udf_partitions is not None:
        df = df.repartition(udf_partitions)  # see minhash_signatures
    # mapInArrow fingerprint form (r13): same hashes + vote math as
    # simhash64, without the per-row pandas materialization
    fp_raw = simhash_fingerprints(
        df, id_col, text_col, portable_hash=portable_hash
    )  # null/empty text: no fingerprint (dropped)
    mem = None
    if collapse_identical:
        # Single-pass collapse (r12, same rework as minhash_lsh_pairs):
        # a window over fp yields representative + group size on every
        # row, replacing {groupBy -> materialize -> fp-x-reps join}
        # with one fp-keyed shuffle + one materialize. Bit-identical;
        # skew exposure unchanged (the membership join already shuffled
        # every row by fp).
        wfp = Window.partitionBy("fp")
        # fast path: no duplicate fingerprints -> no reconstruction
        # needed; the max(_gn) probe rides the materialize action as
        # an Observation metric (r13 — zero extra jobs, the CC
        # convergence pattern)
        mem0, read = observe(fp_raw.select(
            "_id", "fp",
            F.min("_id").over(wfp).alias("_rep"),
            F.count("*").over(wfp).alias("_gn"),
        ), max_gn=F.max("_gn"))
        mem0 = materialize(mem0)
        if (read()["max_gn"] or 1) == 1:
            collapse_identical = False
            chunk_src = mem0.select("_id", "fp")
        else:
            chunk_src = mem0.filter(F.col("_id") == F.col("_rep")).select(
                "_id", "fp"
            )
            mem = mem0.select("_rep", F.col("_id").alias("_member"), "_gn")
    else:
        chunk_src = fp_raw.transform(materialize)
    chunks = chunk_src.select(
        "_id", "fp",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("fp"), i * 16).bitwiseAND(F.lit(0xFFFF))
                for i in range(4)
            ])
        ).alias("chunk_id", "chunk_val"),
    )
    if max_postings_per_chunk is not None:
        chunks = _cap_postings(
            chunks.transform(materialize), max_postings_per_chunk,
            keys=("chunk_id", "chunk_val"), label="simhash-chunk",
        )
    a = chunks.select(F.col("_id").alias("id_a"), F.col("fp").alias("fp_a"),
                      "chunk_id", "chunk_val")
    b = chunks.select(F.col("_id").alias("id_b"), F.col("fp").alias("fp_b"),
                      "chunk_id", "chunk_val")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    rep_pairs = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    if not collapse_identical:
        return rep_pairs
    # membership frame precomputed by the collapse window above (r12)
    return _expand_group_pairs(rep_pairs, mem, "hamming", max_group_expand)


def dedup_exact(df: DataFrame, subset: list[str] | None = None,
                keep_order_col: str | None = None) -> DataFrame:
    """Exact dedup. Without keep_order_col: dropDuplicates (any winner,
    cheapest plan). With it: deterministic keep-first via min-ordering —
    still one hash aggregation, not a window sort."""
    if keep_order_col is None:
        return df.dropDuplicates(subset)
    keys = subset or df.columns
    w_cols = [c for c in df.columns if c not in keys]
    packed = df.select(
        *keys, F.struct(keep_order_col, *[c for c in w_cols if c != keep_order_col])
        .alias("_rest"),
    )
    return (
        packed.groupBy(*keys).agg(F.min("_rest").alias("_rest"))
        .select(*keys, "_rest.*")
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """Duplicate clusters from a pair list: iterative min-label
    propagation (large-star style). Converges in O(log n) rounds for
    near-dup clusters (which are shallow); each round is two shuffles.
    Returns (id, component) where component is the cluster's min id.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize once: every iteration joins edges twice, and without
        # this the full upstream plan (e.g. the LSH pipeline) re-executes
        # per round
        .transform(materialize)
    )
    # (r7 note: a coalesce(1) fast path for tiny edge sets was
    # measured in an in-session A/B and reverted — AQE already
    # collapses the per-round shuffles, so the extra count() job and
    # single-task rounds bought nothing at sf0.1 and would only hurt
    # at scale.)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # neighbor minimum (including own label)
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src").agg(F.min("component").alias("nbr_min"))
        )
        new_comp = F.least(
            F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                (new_comp != F.col("component")).alias("_chg"),
                new_comp.alias("component"),
            )
        )
        # Convergence check rides the materialize action as an
        # Observation metric (r12 opt): the eager checkpoint already
        # executes the round's plan, so counting changed labels there
        # costs ZERO extra jobs — the r7 shape still paid one
        # join+limit+count job per round against the previous labels.
        # Same verdict either way: sum(_chg) == 0  <=>  no label moved.
        updated, read = observe(updated, changed=F.sum(F.col("_chg").cast("int")))
        # materialize BEFORE reading the metric: the eager action both
        # truncates lineage for the next round and delivers the metric.
        labels = materialize(updated.drop("_chg"))
        if not (read()["changed"] or 0):
            break
    return labels
