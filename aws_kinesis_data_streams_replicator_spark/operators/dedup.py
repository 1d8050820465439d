"""Deduplication operators over the ``documents`` table.

Beyond the reference (which has no dedup — SURVEY §2.2), these are the
LLM-training-pipeline dedup family, each expressed as a distributed
DataFrame plan:

* exact dedup           — hash-groupBy, deterministic keeper (min doc_id)
* MinHash + LSH         — k-shingles → n min-hashes → banded buckets →
                          candidate pairs via bucket equi-join
* SimHash               — 32-bit majority fingerprint, cluster by equality
* n-gram Jaccard        — exact pairwise Jaccard, but only over pairs that
                          share ≥1 shingle (inverted-index join, never the
                          full cross product)

Scale notes (100 TB): every pairwise op here is joined on a
*bucket/shingle key*, so cost is Σ bucket² not N².  Hot shingles (stop
phrases) skew the inverted index — at scale, drop shingles with document
frequency above a cap before the self-join (standard practice; the cap
is a parameter here).  MinHash bands: P(candidate) = 1-(1-j^r)^b; with
r=2, b=4 the 0.5-Jaccard threshold is soft.  Hash family is md5-seeded
for oracle portability (see functions/hashing.py; swap to xxhash64 at
production scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import md5_seeded, shingles_of_tokens, word_tokens
from .util import spread


def exact_dedup_clusters(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per distinct text: content hash, kept doc_id (min), copies."""
    return documents.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Deduplicated documents — deterministic keeper = min doc_id per text.

    (`dropDuplicates` keeps an arbitrary row; min-by is reproducible and
    costs the same single hash aggregation.)
    """
    keep = documents.groupBy(text_col).agg(F.min("doc_id").alias("doc_id"))
    return documents.join(keep, ["doc_id", text_col], "left_semi")


def minhash_signatures(
    documents: DataFrame, k_shingle: int = 3, n_hashes: int = 8
) -> DataFrame:
    """doc_id + minhash array (n lexicographic-min md5s over shingles)."""
    sh = (
        spread(documents)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k_shingle)).alias("shingle"),
        )
        .dropDuplicates(["doc_id", "shingle"])
    )
    aggs = [
        F.min(md5_seeded(F.col("shingle"), i)).alias(f"h{i}") for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_narrow(
    documents: DataFrame, k_shingle: int = 3, n_hashes: int = 8
) -> DataFrame:
    """Shuffle-free minhash signatures: ``array_min`` over per-row
    transforms instead of explode + groupBy.  Identical output for docs
    with ≥1 shingle (min over duplicate shingles equals min over the
    set); short docs yield NULL hashes rather than being absent.  The
    narrow plan is streaming-safe (no stateful aggregation) and avoids
    the batch version's shuffle — use it whenever downstream doesn't
    need the absent-row semantics."""
    sh = (
        spread(documents)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id", shingles_of_tokens(F.col("toks"), k_shingle).alias("shs")
        )
    )
    return sh.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("shs"), lambda s: md5_seeded(s, i))
            ).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )


def minhash_band_buckets(
    documents: DataFrame | None = None,
    k_shingle: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, bucket) LSH band rows — the reusable index side
    of MinHash dedup.  Pass ``signatures`` to band pre-computed (and
    possibly checkpointed) signatures; otherwise they are derived from
    ``documents``.  Works on streaming inputs (no materialization
    barrier here — callers that self-join add their own)."""
    if signatures is None:
        if documents is None:
            raise ValueError("pass documents or signatures")
        signatures = minhash_signatures(documents, k_shingle, n_hashes)
    r = n_hashes // n_bands
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat(
                            *[F.col(f"h{b * r + j}") for j in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.bucket")


def minhash_lsh_candidate_pairs(
    documents: DataFrame,
    k_shingle: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs (doc_a < doc_b) sharing ≥1 LSH band bucket.

    Banding: concat r = n_hashes/n_bands consecutive minhashes per band;
    self-equi-join on (band_id, bucket).  The join key is the bucket hash
    → shuffle partitioned by bucket, each bucket tiny.
    """
    # signatures are referenced by both sides of the band self-join —
    # materialize once instead of re-shingling the corpus per side
    sig = minhash_signatures(documents, k_shingle, n_hashes).localCheckpoint(
        eager=False
    )
    bands = minhash_band_buckets(
        signatures=sig, n_hashes=n_hashes, n_bands=n_bands
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    k_shingle: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    |A∩B| from the inverted-index self-join; |A∪B| = |A|+|B|-|A∩B|.
    Jaccard is returned as an exact REDUCED FRACTION (inter, union) plus
    a milli-Jaccard integer — integer arithmetic end-to-end so the DuckDB
    oracle matches bit-for-bit.  ``max_shingle_df`` caps hot shingles at
    scale.
    """
    base = (
        spread(documents)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k_shingle)).alias("shingle"),
        )
    )
    if max_shingle_df is not None:
        # Posting-list formulation: ONE aggregation builds the per-shingle
        # doc list (collect_set doubles as the per-doc dedup, so the
        # tokenize+explode subtree runs exactly once — the naive self-join
        # recomputes it per branch, 4×), hot shingles are dropped by a
        # size() filter instead of a second aggregation + anti-join, and
        # candidate pairs come from an in-array combination expansion —
        # no join at all.  Per-shingle work is bounded by the cap
        # (≤ cap²/2 pairs), so skew is structurally impossible.
        postings = (
            base.groupBy("shingle")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
            .where(F.size("docs") <= F.lit(max_shingle_df))
        )
        sizes = (
            postings.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        docs_arr = F.col("docs")
        pair_structs = F.flatten(
            F.transform(
                docs_arr,
                lambda x, i: F.transform(
                    F.slice(docs_arr, i + F.lit(2), F.size(docs_arr)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        inter = (
            postings.where(F.size("docs") >= 2)
            .select(F.explode(pair_structs).alias("p"))
            .groupBy(
                F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        return _jaccard_tail(inter, sizes, threshold)
    sh = base.dropDuplicates(["doc_id", "shingle"])
    # (no materialization barrier here, deliberately: the shingle table
    # is cheap to recompute but LARGE — ~200 rows per doc — so unlike the
    # minhash/simhash fingerprint tables, checkpointing it costs more in
    # serialization than the re-tokenization it saves; measured at sf0.1)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_tail(inter, sizes, threshold)


def _jaccard_tail(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Attach set sizes, compute exact integer Jaccard, apply threshold."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn(
            "jaccard_milli",
            (F.col("n_inter") * F.lit(1000)).cast("long") / F.col("n_union"),
        )
        .withColumn("jaccard_milli", F.floor(F.col("jaccard_milli")).cast("long"))
    )
    return out.where(
        F.col("n_inter") * F.lit(1000) >= F.lit(int(threshold * 1000)) * F.col("n_union")
    ).select("doc_a", "doc_b", "n_inter", "n_union", "jaccard_milli")


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """doc_id + 32-bit SimHash bitstring over word-token md5s.

    md5 hashing stays JVM-side (oracle-portable); the 32-position
    majority vote crosses to numpy ONCE per batch
    (udfs.simhash_bits_pandas, r12 guide §4.2) — the JVM expression
    form (functions/hashing.py:simhash_bits, kept as the pinned
    reference) is 32 interpreted filter+size passes per document.
    """
    from .udfs import simhash_bits_pandas

    hashed = spread(documents).select(
        "doc_id",
        F.transform(word_tokens(F.col("text")), lambda t: F.md5(t)).alias("hs"),
    )
    return hashed.select(
        "doc_id", simhash_bits_pandas(F.col("hs")).alias("simhash")
    )


def simhash64_fingerprints(documents: DataFrame) -> DataFrame:
    """doc_id + 64-bit SimHash bitstring (two seeded 32-bit md5 families).

    The 32-bit fingerprint of ``simhash_fingerprints`` is too coarse for
    pair generation on template-heavy corpora (hamming ≤ 3 of 32 admits
    quadratically many pairs); 64 bits at k=3 is the standard
    configuration (Manku et al., WWW'07).  Bits 0-31 come from md5(t),
    bits 32-63 from the seeded family md5('1|' || t).
    """
    from .udfs import simhash_bits_pandas

    hashed = spread(documents).select(
        "doc_id",
        F.transform(word_tokens(F.col("text")), lambda t: F.md5(t)).alias("hs0"),
        F.transform(word_tokens(F.col("text")), lambda t: md5_seeded(t, 1)).alias(
            "hs1"
        ),
    )
    # both families evaluate in ONE ArrowEvalPython node (same
    # projection); the 64 interpreted filter passes of the JVM form
    # become two numpy majority votes per batch (r12, guide §4.2)
    return hashed.select(
        "doc_id",
        F.concat(
            simhash_bits_pandas(F.col("hs0")), simhash_bits_pandas(F.col("hs1"))
        ).alias("simhash"),
    )


def simhash_hamming_pairs(
    documents: DataFrame, n_bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance, via band buckets.

    The pigeonhole guarantee: two fingerprints within Hamming distance d
    share at least one of n_bands contiguous bands whenever d < n_bands —
    so with n_bands=4, every pair at distance ≤ 3 appears in the band
    equi-join (EXACT recall, unlike probabilistic LSH).  Candidates
    sharing a 16-bit band are then verified with the full 64-position
    Hamming count.  Cost is Σ bucket² per band, never N²; at larger
    corpora widen the fingerprint (128 bits) and keep n_bands >
    max_hamming.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole needs max_hamming < n_bands")
    n_bits = 64
    width = n_bits // n_bands
    # Materialize fingerprints ONCE behind a lineage barrier: the self-
    # join otherwise (a) scans + re-fingerprints the corpus on BOTH
    # sides, and (b) pushes its inferred isnotnull(fp) predicates below
    # the band explode into the scan, re-running the 64-bit majority
    # computation inside a Filter.  One doc_id+64-char-string row per
    # document — tiny next to the corpus at any scale.
    fp = simhash64_fingerprints(documents).localCheckpoint(eager=False)
    # band rows CARRY the fingerprint as two 32-bit ints: the only
    # shuffle is the (tiny) band-row exchange; the candidate blowup (hot
    # buckets can be quadratic) is verified MAP-SIDE inside the join
    # stage — hamming = bit_count(xor) on the halves, 2 JVM ops per
    # candidate instead of 64 interpreted char compares — and filtered
    # before anything else moves.  The final distinct sees only verified
    # pairs.  AQE skew-join splits any remaining hot bucket.
    bands = fp.select(
        "doc_id",
        F.conv(F.substring("simhash", 1, 32), 2, 10).cast("bigint").alias("fp_hi"),
        F.conv(F.substring("simhash", 33, 32), 2, 10).cast("bigint").alias("fp_lo"),
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash", b * width + 1, width)
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "bucket"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi"))
    ) + F.bit_count(F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def benchmark_contamination(
    train_docs: DataFrame,
    bench_docs: DataFrame,
    k_shingle: int = 5,
) -> DataFrame:
    """Per-training-document n-gram overlap against a benchmark corpus.

    The decontamination primitive: any training document sharing a
    k-gram with an eval benchmark is suspect.  The benchmark shingle set
    is orders of magnitude smaller than the corpus, so it BROADCASTS and
    the check is a map-side semi-join per shingle — the 100 TB plan needs
    no shuffle of the training side beyond the per-doc count.
    Returns doc_id, n_matched (distinct contaminated k-grams), n_sh
    (doc's k-gram count), contamination_milli — only rows with ≥1 hit.
    """

    def doc_shingles(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", word_tokens(F.col("text")).alias("toks"))
            .select(
                "doc_id",
                F.explode(shingles_of_tokens(F.col("toks"), k_shingle)).alias(
                    "shingle"
                ),
            )
            .dropDuplicates(["doc_id", "shingle"])
        )

    train_sh = doc_shingles(spread(train_docs))
    bench_sh = bench_docs.select(
        word_tokens(F.col("text")).alias("toks")
    ).select(
        F.explode(shingles_of_tokens(F.col("toks"), k_shingle)).alias("shingle")
    ).distinct()
    sizes = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        train_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        hits.join(sizes, "doc_id")
        .withColumn(
            "contamination_milli",
            F.floor(F.col("n_matched") * F.lit(1000) / F.col("n_sh")).cast("long"),
        )
        .select("doc_id", "n_matched", "n_sh", "contamination_milli")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, min_dot_q: int, id_col: str = "vec_id", dim: int = 64
) -> DataFrame:
    """Embedding near-dup pairs by exact quantized dot product ≥ threshold.

    Brute-force pair generation via broadcast self-join — fine for the
    500-row fixture; at scale use the LSH/IVF path in
    operators/similarity.py to generate candidates first.
    """
    from ..functions.vectors import dot_q, quantize_embedding

    q = embeddings.select(
        F.col(id_col), quantize_embedding(F.col("embedding")).alias("qe")
    )
    a, b = spread(q).alias("a"), q.alias("b")
    return (
        a.join(F.broadcast(b), F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            dot_q(F.col("a.qe"), F.col("b.qe"), dim).alias("dot_q"),
        )
        .where(F.col("dot_q") >= F.lit(min_dot_q))
    )


def embedding_neardup_pairs_lsh(
    embeddings: DataFrame,
    min_dot_q: int,
    id_col: str = "vec_id",
    dim: int = 64,
    n_bands: int = 8,
    band_planes: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs: banded sign-LSH candidates + exact verify.

    The 100 TB path that replaces the brute-force self-join above:
    each vector gets ``n_bands`` bucket ids (disjoint ``band_planes``-plane
    sign-LSH per band); candidate pairs are vectors sharing ≥1 (band,
    bucket) — a BUCKET EQUI-JOIN, so cost is Σ bucket² per band, never
    N².  Candidates are then verified with the exact quantized dot
    product, so every emitted pair is exact; only recall is probabilistic:
    a pair at cosine θ survives with 1-(1-(1-θ/π)^r)^b.

    Parameter math (how to size r = band_planes, b = n_bands):
    * random-pair collision cost ≈ (N²/2) · b · 2^(-r): r must grow with
      log₂N to keep the candidate set near-linear (r=8 at N≈10³,
      r≈20 at N≈10⁹); b then buys back recall.
    * at the cos ≥ 0.95 near-DUP regime, r=8, b=8 ⇒ per-pair miss ≈ 1.2%
      (and ≈3·10⁻⁵ at cos 0.99); sign-LSH is a candidate generator for
      true near-duplicates, not a general cos-0.5 similarity search —
      use the top-k paths in operators/similarity.py for that.
    """
    from ..functions.vectors import dot_q, quantize_embedding

    # One materialization: the plan otherwise re-scans + re-quantizes the
    # embeddings for each of its 4 references (band self-join + 2 verify
    # joins) and re-evaluates the sign-LSH buckets inside pushed-down
    # isnotnull filters.
    q = (
        spread(embeddings)
        .select(F.col(id_col), quantize_embedding(F.col("embedding")).alias("qe"))
        .localCheckpoint(eager=False)
    )
    # all band buckets in one Arrow-batched numpy matmul: the JVM
    # higher-order-lambda form is interpreted and ~100x slower here
    # (same md5 sign family, same int64 math -> identical buckets;
    # equality vs sign_lsh_bucket is unit-tested)
    from .udfs import sign_lsh_all_bands_udf

    all_buckets = sign_lsh_all_bands_udf(n_bands, band_planes, dim)
    # band-row pin (r12, guide §4/§5): the self-join references this
    # frame on BOTH sides, so the Arrow UDF + posexplode ran twice per
    # call; the pinned rows are 3 skinny columns × n_bands per vector —
    # smaller than the quantized vectors already pinned above
    bands = q.select(
        id_col,
        F.posexplode(all_buckets(F.col("qe"))).alias("band_id", "bucket"),
    ).localCheckpoint(eager=False)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b")
        )
        .distinct()
    )
    qa = q.select(F.col(id_col).alias("vec_a"), F.col("qe").alias("qe_a"))
    qb = q.select(F.col(id_col).alias("vec_b"), F.col("qe").alias("qe_b"))
    return (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .select("vec_a", "vec_b", dot_q(F.col("qe_a"), F.col("qe_b"), dim).alias("dot_q"))
        .where(F.col("dot_q") >= F.lit(min_dot_q))
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    n_cells: int = 8,
    threshold_milli: int = 400,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster the embedding space, then emit high-cosine pairs only WITHIN
    each cluster — the all-pairs search collapses to Σ cluster², never N².

    Fully deterministic + integer-exact so a SQL oracle reproduces it
    bit-for-bit:

    * seed centroids = the ``n_cells`` lowest-id vectors (no RNG);
    * one Lloyd update in exact int64: assignment by integer squared
      distance (ties → lowest cell id), centroid update = element-wise
      ``sum DIV count`` (truncating division — Spark ``DIV`` and DuckDB
      ``//`` both truncate toward zero);
    * pair predicate ≈ cosine ≥ threshold: ``dot > 0 AND sdot² ≥
      t²·((sna·snb) DIV 10⁶)`` with every factor pre-scaled by ``DIV
      10⁵`` to stay inside int64 — the truncation is part of the defined
      semantics, identical in both engines.

    Scale notes (100 TB): assignment is a broadcast of ≤ a few thousand
    tiny centroids (the IVF shape, similarity.py); the pair join is an
    equi-join on cell id.  Real deployments raise n_cells ∝ √N to keep
    cluster populations bounded, and swap the seed centroids for
    ``kmeans_centroids()``'s trained ones — the plan shape is unchanged.
    """
    from ..functions.vectors import quantize_embedding

    # quantized-vector pin (r12, guide §5): the frame feeds the seed
    # limit AND both assignment passes — unpinned, quantize_embedding
    # re-ran per consumer (3 corpus passes); same pin class as
    # embedding_neardup_pairs_lsh's q
    e = spread(embeddings).select(
        F.col(id_col).alias("vid"), quantize_embedding(F.col("embedding")).alias("qe")
    ).localCheckpoint(eager=False)
    seeds = (
        e.orderBy("vid")
        .limit(n_cells)
        .select(F.col("vid").alias("cell"), F.col("qe").alias("c_qe"))
    )

    def assign(cent: DataFrame) -> DataFrame:
        # per-row argmin against the 1-row centroid array (r12, guide
        # §2.4): the old keyless broadcast join + min(struct) hash
        # aggregation keyed by vid shuffled the whole quantized corpus
        # once per assignment pass; array_min over struct(dist, cell)
        # keeps the exact (dist asc, cell asc) tie rule and shuffles
        # nothing (see similarity.py _assign_cells)
        carr = cent.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell"), F.col("c_qe")))
            ).alias("_cents")
        )
        sqd = lambda c: F.aggregate(  # noqa: E731
            F.zip_with(F.col("qe"), c["c_qe"], lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )
        best = F.array_min(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(sqd(c).alias("d"), c["cell"].alias("cell")),
            )
        )
        # coalesce ⇒ non-nullable cell: stops the pair self-join from
        # inferring an isnotnull filter that would re-evaluate the full
        # argmin expression per row (see similarity._argmax_cell)
        return e.crossJoin(F.broadcast(carr)).select(
            "vid", "qe", F.coalesce(best["cell"], F.lit(-1)).alias("cell")
        )

    a1 = assign(seeds)
    means = (
        a1.select("cell", F.posexplode("qe").alias("pos", "q"))
        .groupBy("cell", "pos")
        .agg(F.expr("sum(q) DIV count(1)").alias("mq"))
    )
    c1 = means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mq"))), lambda s: s["mq"]
        ).alias("c_qe")
    )
    # the final assignment feeds both sides of the pair self-join; without
    # a barrier the whole seed→update→reassign pipeline runs twice.  The
    # self-norm is attached HERE — per vector, N evaluations — not inside
    # the pair projection, where it would run once per PAIR (Σ cluster²
    # times): 3× the higher-order-lambda work on the hot path.
    self_norm = F.aggregate(
        F.transform(F.col("qe"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    a2 = (
        assign(c1)
        .withColumn("nq", self_norm)
        .localCheckpoint(eager=False)
    )
    # shuffle-hash, not sort-merge: the join key has only n_cells
    # distinct values, so the SMJ sort buys nothing and its row
    # comparator runs on 64-element arrays; hash-partitioning by cell is
    # the same exchange either way (at real scale n_cells grows ∝ √N,
    # keeping both the shuffle and the per-cell pair count bounded)
    a, b = a2.alias("a"), a2.hint("shuffle_hash").alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.qe"), F.col("b.qe"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    scored = a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vid") < F.col("b.vid"))
    ).select(
        F.col("a.cell").alias("cell"),
        F.col("a.vid").alias("vec_a"),
        F.col("b.vid").alias("vec_b"),
        dot.alias("dot_q"),
        F.col("a.nq").alias("_na"),
        F.col("b.nq").alias("_nb"),
    )
    t2 = threshold_milli * threshold_milli
    keep = (F.col("dot_q") > 0) & (
        F.expr("(dot_q DIV 100000) * (dot_q DIV 100000)")
        >= F.lit(t2) * F.expr("((_na DIV 100000) * (_nb DIV 100000)) DIV 1000000")
    )
    return scored.where(keep).select("cell", "vec_a", "vec_b", "dot_q")


def duplicate_spans(
    documents: DataFrame,
    k_tokens: int = 8,
    min_docs: int = 2,
    max_span_df: int | None = None,
) -> DataFrame:
    """Substring-level duplicate detection: k-token spans repeated across
    documents (the span-dedup shape of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — boilerplate, licenses,
    templated headers show up as long repeated token spans even when the
    documents as wholes are distinct).

    Every overlapping k-token window is hashed (md5, oracle-portable);
    one hash aggregation groups identical spans corpus-wide.  Returns
    span_hash, n_docs (distinct documents containing it), n_occurrences
    (total, counting within-doc repeats), first_doc (min doc_id —
    deterministic exemplar), filtered to spans seen in ≥ ``min_docs``
    documents.

    Scale notes (100 TB): cost is one explode (≈ n_tokens rows per doc)
    + one partial-agg'd groupBy on the span hash — fully map-side
    combinable since count/count-distinct-by-doc decompose.  A
    pathological span shared by millions of docs only ever contributes
    one output row (this is an AGGREGATION, not the pairwise join of
    ngram_jaccard_pairs — no quadratic blowup), but ``max_span_df``
    caps the output tail if wanted.
    """
    spans = (
        spread(documents)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k_tokens)).alias("span"),
        )
        .select("doc_id", F.md5(F.col("span")).alias("span_hash"))
    )
    out = (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= F.lit(min_docs))
    )
    if max_span_df is not None:
        out = out.where(F.col("n_docs") <= F.lit(max_span_df))
    return out


def span_dup_fraction(
    documents: DataFrame, k_tokens: int = 8, min_docs: int = 2
) -> DataFrame:
    """Per-document duplicated-span fraction — the quality gate built on
    :func:`duplicate_spans`: what fraction of a document's k-token spans
    also appear in other documents?  Documents above a threshold are
    boilerplate/templated and get dropped or down-weighted in curation.

    Plan: spans exploded once, aggregated to corpus-wide doc frequencies,
    joined back per-(doc, span) occurrence, one per-doc aggregate.
    The join key is the span hash (same partitioning as the DF
    aggregation → AQE reuses the shuffle side).  Output is integer-exact:
    dup_milli = (n_dup * 1000) // n_spans.
    """
    spans = (
        spread(documents)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k_tokens)).alias("span"),
        )
        .select("doc_id", F.md5(F.col("span")).alias("span_hash"))
    )
    df_counts = spans.groupBy("span_hash").agg(
        F.countDistinct("doc_id").alias("span_df")
    )
    return (
        spans.join(df_counts, "span_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("span_df") >= F.lit(min_docs), 1).otherwise(0)
            ).alias("n_dup"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup").cast("long").alias("n_dup"),
            F.floor(F.col("n_dup") * F.lit(1000) / F.col("n_spans"))
            .cast("long")
            .alias("dup_milli"),
        )
    )


def shingle_containment_pairs(
    documents: DataFrame,
    k_shingle: int = 3,
    threshold_bp: int = 8000,
    max_shingle_df: int = 50,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over
    distinct k-word shingle sets — the near-dup measure Jaccard misses
    when a short document is embedded inside a much longer one (quote
    farms, boilerplate wrappers, partial scrapes).  Broder's original
    resemblance paper defines both; most pipelines only ship Jaccard.

    Emits every unordered pair whose containment in EITHER direction
    reaches ``threshold_bp`` basis points, with both directional values:
    since C(A→B) = inter/n_a and C(B→A) = inter/n_b, the pair qualifies
    iff inter·10000 ≥ threshold_bp·min(n_a, n_b).  Integer basis-point
    arithmetic end-to-end (truncating division matches DuckDB ``//``).

    Scale notes (100 TB): identical cost shape to
    ``ngram_jaccard_pairs(max_shingle_df=...)`` — ONE aggregation builds
    capped posting lists (collect_set doubles as per-doc dedup), pairs
    come from an in-array combination expansion (≤ cap²/2 per shingle,
    skew structurally impossible), and the per-doc size table rides the
    same shuffle key.  No all-pairs join anywhere.
    """
    base = (
        spread(documents)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k_shingle)).alias(
                "shingle"
            ),
        )
    )
    postings = (
        base.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .where(F.size("docs") <= F.lit(max_shingle_df))
    )
    sizes = (
        postings.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    docs_arr = F.col("docs")
    pair_structs = F.flatten(
        F.transform(
            docs_arr,
            lambda x, i: F.transform(
                F.slice(docs_arr, i + F.lit(2), F.size(docs_arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        postings.where(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("n_inter") * F.lit(10000)
            >= F.lit(threshold_bp) * F.least(F.col("n_a"), F.col("n_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("CAST(n_inter * 10000 DIV n_a AS BIGINT)").alias(
                "cont_a_bp"
            ),
            F.expr("CAST(n_inter * 10000 DIV n_b AS BIGINT)").alias(
                "cont_b_bp"
            ),
        )
    )


def chargram_dup_coverage(
    documents: DataFrame,
    k_chars: int = 20,
    stride: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Character-level exact-duplication coverage: what fraction of each
    document's CHARACTERS sits inside a k-char substring that also
    appears verbatim in another document?  The character-granularity
    companion to :func:`duplicate_spans` (token spans): licenses, code
    headers, and templated markup repeat at the byte level even when
    tokenization differs, and span-removal pipelines (Lee et al. 2022)
    operate on character offsets.

    Every ``stride``-th k-char window is hashed (md5, oracle-portable) —
    the stride bounds the explode at ``len/stride`` rows per doc while
    still over-covering any duplicated span ≥ k+stride chars.  Corpus-
    wide document frequency per gram hash marks duplicated positions;
    per-document interval union (windowed lag: each position adds
    ``min(k, pos - prev_pos)`` covered chars) turns overlapping
    duplicated windows into EXACT covered-character counts, not a
    double-counted sum.

    Output: (doc_id, n_chars, n_grams, n_dup_grams, covered_chars,
    dup_cover_bp) — one row per doc with ≥1 full window.

    Scale notes (100 TB): gram hashing runs inside a JVM ``transform``
    over the position sequence, so document text never rides the
    exploded rows — each gram row is (doc_id, pos, 32-byte hex).  Cost
    is one hash-keyed aggregation (map-side combinable; a boilerplate
    gram shared by millions of docs is ONE group, never a pair
    explosion), one equi-join back on the same key (AQE reuses the
    shuffle), and one per-doc window — partitioned by doc_id, no global
    ordering anywhere.
    """
    grams = (
        spread(documents)
        .where(F.length("text") >= k_chars)
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text) - {k_chars} + 1, "
                    f"{stride}), i -> struct(CAST(i AS BIGINT) AS pos, "
                    f"md5(substring(text, i, {k_chars})) AS h))"
                )
            ).alias("g"),
        )
        .select("doc_id", "n_chars", "g.pos", "g.h")
    )
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("gram_df"))
        .where(F.col("gram_df") >= F.lit(min_docs))
        .select("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        grams.join(dup_hashes, "h")
        .select("doc_id", "pos", F.lag("pos").over(w).alias("prev_pos"))
        .select(
            "doc_id",
            F.when(F.col("prev_pos").isNull(), F.lit(k_chars))
            .otherwise(F.least(F.lit(k_chars), F.col("pos") - F.col("prev_pos")))
            .alias("add_c"),
        )
    )
    per_doc_dup = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup"),
        F.sum("add_c").alias("covered"),
    )
    # Per-doc totals are CLOSED-FORM in the text length — no second
    # pass over the exploded grams (at 100 TB that explode is the
    # dominant cost; pay it once, for the hash side only).
    totals = documents.where(F.length("text") >= k_chars).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.expr(
            f"CAST((length(text) - {k_chars}) DIV {stride} + 1 AS BIGINT)"
        ).alias("n_grams"),
    )
    return (
        totals.join(per_doc_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce(F.col("covered"), F.lit(0))
            .cast("long")
            .alias("covered_chars"),
            F.expr(
                "CAST(coalesce(covered, 0) * 10000 DIV n_chars AS BIGINT)"
            ).alias("dup_cover_bp"),
        )
    )


def embedding_band_buckets(
    embeddings: DataFrame,
    n_bands: int = 8,
    band_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Banded sign-LSH bucket index for a corpus of embeddings: one row
    per (vector, band) with its bucket id — the static index the
    streaming semantic near-dup gate joins against
    (streaming/job.py:streaming_semantic_neardup_filter), and the same
    band family :func:`embedding_neardup_pairs_lsh` buckets with.

    Scale notes (100 TB): one Arrow-batched numpy matmul per batch for
    all bands (operators/udfs.py:sign_lsh_all_bands_udf), then a
    posexplode to n_bands skinny rows per vector — no shuffle at all;
    write it partitioned by band_id for pruned per-band reads.
    """
    from ..functions.vectors import quantize_embedding
    from .udfs import sign_lsh_all_bands_udf

    all_buckets = sign_lsh_all_bands_udf(n_bands, band_planes, dim)
    return (
        spread(embeddings)
        .select(
            F.col(id_col),
            quantize_embedding(F.col("embedding")).alias("qe"),
        )
        .select(
            id_col,
            F.posexplode(all_buckets(F.col("qe"))).alias("band_id", "bucket"),
        )
    )
