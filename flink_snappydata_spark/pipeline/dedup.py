"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All candidate generation is sub-quadratic:

* exact — hash groupBy on the full text (one shuffle on a digest key);
* n-gram Jaccard — prefix-filtered inverted-index join (only each
  doc's rarest shingles generate candidates), never a cross join;
* MinHash+LSH — banded signatures; only same-band-bucket pairs are
  candidates, verified with exact Jaccard;
* SimHash — 15-bit band blocking over 60-bit portable (md5-derived)
  fingerprints, verified with Hamming distance.

Candidate generation and verification are JVM column expressions
(explode / xxhash64 / joins / aggregation); shingling and MinHash
signatures run as Arrow-batched numpy kernels (the sanctioned
vectorized-Python path — interpreted higher-order functions and wide
min-agg fan-outs measured 5-10x slower). Determinism comes from fixed
seeds and content-only hashes, so results are identical at any
parallelism.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_snappydata_spark.util import (
    presentation_sorted,
    spread,
    tracked_persist,
)

# Word n-gram size shared by Jaccard and MinHash (3-word shingles).
SHINGLE_N = 3
# MinHash: 64 hash functions → 16 bands x 4 rows (candidate threshold
# ~ (1/b)^(1/r) ≈ 0.5 Jaccard).
MINHASH_K = 64
LSH_BANDS = 16
LSH_ROWS = 4
# 32-bit modular hash family: p > 2^32 prime; a*x fits in int64.
_P32 = 4294967311

_rng = random.Random(42)
_HASH_A = [_rng.randrange(1, _P32) % (1 << 31) + 1 for _ in range(MINHASH_K)]
_HASH_B = [_rng.randrange(0, _P32) % (1 << 31) for _ in range(MINHASH_K)]


def doc_shingle_arrays(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shs: array<string>) — each document's distinct word
    n-gram shingles as ONE array row (insertion order), the packed form
    :func:`shingles` explodes.

    Arrow-batched kernel: the column-expression formulation
    (``transform(sequence(...))`` with per-gram ``concat_ws``) runs as
    interpreted higher-order functions and dominated the whole dedup
    pipeline (6.1 s vs <1 s at sf0.1). Tokenization semantics match the
    JVM/DuckDB oracles exactly: ``re.ASCII`` reproduces Java's and RE2's
    ASCII ``\\W`` class; short documents fall back to one whole-text
    shingle.

    Callers that need BOTH the exploded index and per-doc sets
    (:func:`ngram_jaccard_pairs`) persist THIS frame and derive each:
    one kernel pass, and the verify skips its collect_list regroup.
    """
    import re

    import pandas as pd

    ascii_nonword = re.compile(r"\W+", re.ASCII)

    # no annotations: PEP-563 lazy hints defeat pandas_udf inference
    @F.pandas_udf("array<string>")
    def _doc_shingles(texts):
        out = []
        for t in texts:
            ws = [w for w in ascii_nonword.split(t.lower()) if w]
            if len(ws) >= n:
                seen = dict.fromkeys(
                    " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
                )
                out.append(list(seen))
            else:
                out.append([" ".join(ws)])
        return pd.Series(out)

    return spread(documents, "doc_id").select(
        "doc_id", _doc_shingles(F.col("text")).alias("shs")
    )


def shingles(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh) — distinct word n-gram shingles per document, one
    row per shingle (the exploded :func:`doc_shingle_arrays`)."""
    return doc_shingle_arrays(documents, n).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text.

    Scale: the shuffle key is ``sha2(text, 256)`` — fixed-width 32-byte
    digests hash, compare, and spill-sort for cents compared to
    arbitrary-length document bodies as grouping keys. The representative
    text rides along as a ``min_by(text, doc_id)`` aggregation payload;
    map-side partial aggregation collapses within-partition duplicates
    before anything moves, so each distinct text crosses the wire at most
    once per input partition. Same result as grouping on the text itself
    on collision-free SHA-256.
    """
    return (
        documents.groupBy(F.sha2(F.col("text").cast("binary"), 256).alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .select("doc_id", "n_copies", "text")
        .orderBy("doc_id")
    )


#: Per-document shingle-set bound for the packed verify path: above
#: this, a document's set is not packed into a single array row (at
#: ~60-100 bytes per word-trigram shingle, 1e6 shingles ≈ a 60-100 MB
#: record — near the practical ceiling for one shuffle record) and its
#: pairs take the streamed gated join instead. Results are identical;
#: only the physical verify strategy changes. Exposure note: callers
#: that persist the packed kernel output (`doc_shingle_arrays`) cache
#: each document's full array once — including an oversized one — but
#: `_verified_jaccard` never SHUFFLES such a record: with oversized
#: docs present the verify sets are rebuilt from the exploded index
#: (narrow rows filtered before the regroup), not anti-joined from the
#: packed frame.
MAX_PACKED_SHINGLES = 1_000_000


def _shingle_bound_cleared(documents: DataFrame, max_set_size: int | None):
    """Cheap pre-probe: a document's distinct shingle count is at most
    its word count, which is at most its character length — so when
    ``max(length(text)) <= max_set_size``, NO document can exceed the
    packed bound and :func:`_verified_jaccard` may skip its per-doc
    shingle-count probe (a groupBy over the whole shingle index). One
    partial-max column aggregate on the (cached) documents scan, no
    shuffle of anything wider than a long.
    """
    if max_set_size is None:
        return True
    row = documents.agg(
        F.max(F.length("text")).alias("max_len")
    ).first()
    return (row["max_len"] or 0) <= max_set_size


def _streamed_jaccard(
    sh: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Streamed exact Jaccard for candidate pairs: count matching
    per-shingle index rows per pair, join set sizes separately — never
    packs a document's shingles into one record, so a single
    pathological giant document costs (pair × its shingles) ROWS, not
    one giant shuffle record. ~|cand|·avg_shingles intermediate rows —
    use only for the pairs the packed path cannot take.
    """
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    # index/counts sides are corpus-sized — pinned SMJ, never an
    # estimate-driven broadcast (see _prefix_index's note)
    inter = (
        cand.join(sha.hint("merge"), "doc_a")
        .join(shb.hint("merge"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        # Left join + coalesce: a zero-overlap candidate (possible from
        # LSH band collisions) must still score jaccard=0, matching the
        # packed path exactly for ANY threshold including 0.
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")).hint("merge"), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")).hint("merge"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _verified_jaccard(
    sh: DataFrame, cand: DataFrame, threshold: float,
    sorted_output: bool = True,
    expect_small: bool = True,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
    packed: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over (doc_a, doc_b) candidate pairs against the
    full shingle index ``sh``: each doc's distinct shingles are packed
    into one array row, candidates join the packed sets twice, and
    |A∩B| = ``size(array_intersect(...))`` — integer counts and one
    double division, engine-exact values regardless of how the
    candidates were generated.

    Scale: the packed-sets frame is one row per document (the same
    order of bytes as the corpus text itself, partitioned by doc id);
    joining candidates against it twice moves each set once per side
    instead of exploding to (pair x shingle) rows — the previous gated
    join shuffled |cand|·avg_shingles intermediate rows, ~50x more. At
    test scale AQE broadcasts the sets frame outright; at 100 TB both
    joins hash-partition on doc id with no row multiplication. The
    per-pair intersect is linear in set size, JVM-side.

    Per-document size bound (``max_set_size``, default
    :data:`MAX_PACKED_SHINGLES`): packing makes one shuffle RECORD per
    document (~n_shingles × avg_shingle_len bytes ≈ the document's own
    size × word-n-gram overlap factor ~n), so a pathological multi-GB
    document would become a single multi-hundred-MB record. A probe
    checks whether any document exceeds the bound: one per-doc shingle
    count aggregation over the persisted index, with a ``limit(1)``
    that early-exits only when an oversized document EXISTS — proving
    the common all-small case requires completing the full aggregation
    pass (map-side-combined counts, one narrow row per document; cheap
    relative to the candidate join, but a full pass, not a lookup). In
    that all-small case the plan below is untouched. When oversized
    documents exist, only sub-bound documents are packed (they are
    filtered out BEFORE the ``collect_list`` shuffle, so the giant
    record is never built) and every pair touching an oversized
    document is verified by :func:`_streamed_jaccard` instead —
    identical values, ~50x more (small) rows for just those pairs.
    ``max_set_size=None`` disables the probe and bound.

    ``expect_small`` is the presentation-sort size hint
    (:func:`~flink_snappydata_spark.util.presentation_sorted`): pass
    ``False`` on a duplicate-heavy corpus where the PAIR LIST itself
    is O(corpus) so the final sort stays range-partitioned.
    """
    big_ids = None
    if max_set_size is not None:
        big_ids = (
            sh.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .filter(F.col("n_sh") > max_set_size)
            .select("doc_id")
        )
        if big_ids.limit(1).count() == 0:
            big_ids = None

    if big_ids is None:
        pack_src, pairs = sh, cand
        streamed = None
    else:
        big_ids = tracked_persist(big_ids)
        pack_src = sh.join(big_ids, "doc_id", "left_anti")
        # The candidate frame is usually an expensive prefix/band join;
        # persist it so the small/big split doesn't run it twice.
        pairs_all = tracked_persist(cand)
        big_a = big_ids.select(F.col("doc_id").alias("doc_a"))
        big_b = big_ids.select(F.col("doc_id").alias("doc_b"))
        touching_big = (
            pairs_all.join(big_a, "doc_a", "left_semi")
            .unionByName(pairs_all.join(big_b, "doc_b", "left_semi"))
            .dropDuplicates(["doc_a", "doc_b"])
        )
        pairs = (
            pairs_all.join(big_a, "doc_a", "left_anti")
            .join(big_b, "doc_b", "left_anti")
        )
        streamed = _streamed_jaccard(sh, touching_big, threshold)

    # ``packed`` (doc_id, shs) short-circuits the explode→regroup when
    # the caller already holds per-doc shingle arrays (the fused
    # MinHash kernel): same sets, one less corpus-sized aggregation.
    # Intersection/size are set operations, so element order within
    # each array is irrelevant. The shortcut applies ONLY when no
    # document exceeds the packed bound: with oversized docs present,
    # anti-joining the packed frame would shuffle the giant array
    # records before dropping them, so the small-doc sets are rebuilt
    # from the exploded index instead — oversized docs filtered as
    # narrow rows BEFORE the collect_list regroup, the giant record
    # never entering a shuffle (ADVICE r14; the caller's persisted
    # packed frame still caches the oversized array once, without
    # moving it).
    if packed is not None and big_ids is None:
        sets = packed
    else:
        sets = pack_src.groupBy("doc_id").agg(
            F.collect_list("sh").alias("shs")
        )
    pa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.size("shs").alias("na"),
    )
    pb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.size("shs").alias("nb"),
    )
    # Packed sets are corpus-sized (one wide array row per document):
    # the verify joins are pinned sort-merge so they hash-partition on
    # doc id at ANY scale and can never ride an estimate-driven
    # broadcast of the sets frame (see _prefix_index's note; SMJ over
    # shuffle_hash because the build rows here are wide arrays and SMJ
    # spills gracefully).
    packed = (
        pairs.join(pa.hint("merge"), "doc_a")
        .join(pb.hint("merge"), "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    out = packed if streamed is None else packed.unionByName(streamed)
    return out.transform(
        lambda d: presentation_sorted(
            d, "doc_a", "doc_b", expect_small=expect_small
        )
        if sorted_output
        else d
    )


def _prefix_index(sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, n_sh, rnk, sh) for each doc's prefix — its
    ``n_sh − ⌈t·n_sh⌉ + 1`` globally rarest shingles, ranked by
    ascending document frequency with ties on shingle text.

    Ranks each doc's shingles by (df, sh) with ONE aggregation + a
    per-doc ``array_sort``/``slice`` instead of two window functions —
    same order, one fewer shuffle, and the slice discards the ~80%
    non-prefix rows before the explode. Exposed separately so tests can
    assert the scale property directly: hot (high-DF) shingles never
    enter the candidate join.

    The DF join is pinned ``shuffle_hash``: both sides are
    corpus-sized, so it must NEVER ride an estimate-driven broadcast —
    on a memory-sourced input (a range-derived frame, a foreachBatch
    backfill) Catalyst's size estimate can be 100× under the true
    size, and the statically-planned broadcast then dies building a
    GB-scale hash relation ("Not enough memory to build and broadcast"
    — observed at the 100× synthdocs decade). An explicit shuffle hint
    keeps the decision estimate-independent at every scale.
    """
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_sh"))
    return (
        sh.join(dfreq.hint("shuffle_hash"), "sh")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("df_sh", "sh")).alias("items"))
        .select(
            "doc_id",
            F.size("items").alias("n_sh"),
            F.posexplode(
                F.slice(
                    F.array_sort("items"),
                    1,
                    (
                        F.size("items")
                        - F.ceil(F.size("items") * threshold - 1e-9)
                        + 1
                    ).cast("int"),
                )
            ).alias("pos", "e"),
        )
        .select(
            "doc_id", "n_sh", (F.col("pos") + 1).alias("rnk"),
            F.col("e.sh").alias("sh"),
        )
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = SHINGLE_N,
    sorted_output: bool = True,
    expect_small: bool = True,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via prefix filtering
    (AllPairs/PPJoin-style candidate generation, then exact verify).

    Only each document's *prefix* — its ``n_sh − ⌈t·n_sh⌉ + 1``
    globally rarest shingles (global order = ascending document
    frequency, ties by shingle text) — enters the candidate self-join.
    Any pair with Jaccard ≥ t overlaps in ≥ ``⌈t·max(|A|,|B|)⌉``
    shingles (the union contains both sets), so the order-smallest
    shared shingle provably sits inside BOTH prefixes: prefix ⋈ prefix
    finds every qualifying pair with zero recall loss. A size-ratio
    prune (j ≥ t ⟹ t·|B| ≤ |A| ≤ |B|/t) rides the join condition.
    Candidates are then verified with the exact Jaccard over the
    *full* shingle sets (:func:`_verified_jaccard`), so precision and
    values are engine-exact.

    Scale: this kills the inverted-index join's hot-key explosion by
    construction — a stopword-run shingle shared by 1 M documents is,
    by definition of the frequency order, in (almost) nobody's prefix,
    so it never self-joins; no DF cap, no recall caveat. At t=0.8 only
    ~20% of index rows (the rarest, hence least-skewed, keys) enter the
    join. Float guards: prefix length and ratio bounds are padded by
    1e-9 toward MORE candidates, so binary-double threshold arithmetic
    can only add a candidate (verified away later), never drop one.
    """
    # ONE kernel pass, persisted in packed (per-doc array) form: the
    # exploded index (DF agg, prefix ranking, any streamed-verify
    # fallback) is a cheap JVM explode over it, and the exact verify
    # consumes the arrays directly — no collect_list regroup of the
    # corpus. Callers own cache cleanup for repeated runs (bench
    # clears between queries).
    packed = tracked_persist(doc_shingle_arrays(documents, n))
    sh = packed.select("doc_id", F.explode("shs").alias("sh"))
    prefix = _prefix_index(sh, threshold)
    # The prefix self-join is corpus × corpus: pin shuffle_hash so a
    # bad size estimate on a memory-sourced input can never statically
    # broadcast one side (see _prefix_index's note).
    a, b = prefix.alias("a"), prefix.alias("b").hint("shuffle_hash")
    # Positional filter (PPJoin): all shared shingles sort at-or-after
    # the matched one, so overlap ≤ min(remaining_a, remaining_b) + 1;
    # a qualifying pair needs overlap ≥ ⌈t·max(na,nb)⌉, and its
    # order-smallest shared shingle (guaranteed matched by the prefix
    # join) carries the largest bound — so dropping rows whose bound
    # falls short never drops a qualifying pair.
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= F.col("b.n_sh") * threshold - 1e-9)
            & (F.col("b.n_sh") >= F.col("a.n_sh") * threshold - 1e-9)
            & (
                F.least(
                    F.col("a.n_sh") - F.col("a.rnk"),
                    F.col("b.n_sh") - F.col("b.rnk"),
                )
                + 1
                >= F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * threshold - 1e-9
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if _shingle_bound_cleared(documents, max_set_size):
        max_set_size = None  # provably all under bound — skip the probe
    return _verified_jaccard(
        sh, cand, threshold, sorted_output,
        expect_small=expect_small, max_set_size=max_set_size,
        packed=packed,
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.9,
    n: int = SHINGLE_N,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """Asymmetric containment (overlap-coefficient) near-dup pairs:
    ``(doc_a, doc_b, containment)`` with
    ``containment = |A∩B| / min(|A|,|B|) >= threshold`` — the metric
    that catches what Jaccard structurally misses: a short document
    quoted nearly whole inside a much longer one has Jaccard
    ``~|A|/|B|`` (arbitrarily small) but containment ~1. The standard
    third member of the dedup triad (exact, Jaccard, containment) for
    training corpora full of quote-heavy and boilerplate-superset
    pages.

    Candidate generation is the asymmetric prefix filter: a qualifying
    pair shares ``>= ceil(t·min(na,nb))`` shingles, so by pigeonhole
    the SMALLER document's prefix — its ``na − ceil(t·na) + 1``
    globally rarest shingles, the same :func:`_prefix_index` frame the
    Jaccard join uses — must contain a shared shingle. Candidates are
    therefore ``prefix(smaller) ⋈ full-index(larger)`` (size order
    enforced in the join condition; equal sizes tie-break on doc_id),
    plus the positional prune ``na − rnk + 1 >= ceil(t·na)``, which
    provably keeps the smallest-rank matched row of every qualifying
    pair. No size-ratio prune exists for containment — any tiny
    document may be contained in any huge one; that asymmetry is the
    metric, not a bug.

    Scale: the prefix side is rarest-first (hot stopword shingles
    enter nobody's prefix), but the full-index side pays df(sh) fanout
    per matched prefix shingle — the irreducible cost of a containment
    join, minimized by the rarest-first prefix choice. Verification
    packs each doc's shingle set into one array row and joins
    candidates against it twice (|A∩B| = ``array_intersect``, one row
    per pair), exactly like the Jaccard verify; when the
    :func:`_shingle_bound_cleared` probe cannot prove every document
    under ``max_set_size``, ALL pairs take the streamed per-shingle
    count join instead (identical values, no giant packed record).
    Output is bounded by qualifying pairs and presented unsorted.
    """
    # one kernel pass in packed form (see ngram_jaccard_pairs): the
    # index/counts are explodes/sizes over it, the verify reads the
    # arrays directly
    packed = tracked_persist(doc_shingle_arrays(documents, n))
    sh = packed.select("doc_id", F.explode("shs").alias("sh"))
    counts = packed.select("doc_id", F.size("shs").cast("long").alias("n_sh"))
    full = sh.join(counts.hint("shuffle_hash"), "doc_id")
    prefix = _prefix_index(sh, threshold)
    # prefix × full-index is corpus × corpus: estimate-independent
    # shuffle join, never a statically-planned broadcast (see
    # _prefix_index's note). The hint rides the PREFIX side — the
    # hinted side is the hash build side, and the prefix is ~20% of
    # index rows by construction.
    a, b = prefix.alias("a").hint("shuffle_hash"), full.alias("b")
    smaller_first = (F.col("a.n_sh") < F.col("b.n_sh")) | (
        (F.col("a.n_sh") == F.col("b.n_sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & smaller_first
            & (
                F.col("a.n_sh") - F.col("a.rnk") + 1
                >= F.col("a.n_sh") * threshold - 1e-9
            ),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if _shingle_bound_cleared(documents, max_set_size):
        sets = packed  # per-doc arrays straight from the kernel pass
        pa = sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shs").alias("shs_a"),
            F.size("shs").alias("na"),
        )
        pb = sets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shs").alias("shs_b"),
            F.size("shs").alias("nb"),
        )
        # same pinned-SMJ rationale as _verified_jaccard's packed joins
        scored = (
            cand.join(pa.hint("merge"), "doc_a")
            .join(pb.hint("merge"), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                (
                    F.size(F.array_intersect("shs_a", "shs_b")).cast("double")
                    / F.least("na", "nb")
                ).alias("containment"),
            )
        )
    else:
        sha = sh.select(F.col("doc_id").alias("doc_a"), "sh")
        shb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
        inter = (
            cand.join(sha.hint("merge"), "doc_a")
            .join(shb.hint("merge"), ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        scored = (
            cand.join(inter, ["doc_a", "doc_b"], "left")
            .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
            # counts is corpus-sized — pinned SMJ (see _prefix_index)
            .join(
                counts.select(
                    F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
                ).hint("merge"),
                "doc_a",
            )
            .join(
                counts.select(
                    F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
                ).hint("merge"),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("n_inter").cast("double") / F.least("na", "nb")
                ).alias("containment"),
            )
        )
    return scored.filter(F.col("containment") >= threshold)


def minhash_band_hashes(
    documents: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band_id, band_hash) — LSH band buckets, fully kernel-side.

    The signature matrix never leaves the Arrow batch: the kernel takes
    the per-band FNV-style polynomial combine of the ``rows`` MinHash
    values and emits only ``bands`` int64s per document, so the plan
    explodes a 16-element array instead of projecting 64 signature
    columns into per-band ``xxhash64`` structs (measured ~2x faster at
    sf0.1, identical candidate semantics: equal band hash ⇔ equal band
    with overwhelming probability).
    """
    import re
    import zlib

    import numpy as np
    import pandas as pd

    k = bands * rows
    ascii_nonword = re.compile(r"\W+", re.ASCII)
    a_mat = np.array(_HASH_A[:k], dtype=np.uint64)[:, None]
    b_mat = np.array(_HASH_B[:k], dtype=np.uint64)[:, None]
    p = np.uint64(_P32)
    fnv = np.uint64(1099511628211)
    n = SHINGLE_N

    @F.pandas_udf("array<long>")
    def _bands(texts):
        out = []
        for t in texts:
            ws = [w for w in ascii_nonword.split(t.lower()) if w]
            if len(ws) >= n:
                sh = dict.fromkeys(
                    " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
                )
            else:
                sh = {" ".join(ws): None}
            x = np.fromiter(
                (zlib.crc32(s.encode()) for s in sh),
                dtype=np.uint64,
                count=len(sh),
            )
            sig = ((a_mat * x[None, :] + b_mat) % p).min(axis=1)
            with np.errstate(over="ignore"):
                bh = np.zeros(bands, dtype=np.uint64)
                for r in range(rows):
                    bh = bh * fnv + sig.reshape(bands, rows)[:, r]
            out.append(bh.astype(np.int64))
        return pd.Series(out)

    return (
        spread(documents, "doc_id")
        .select("doc_id", F.posexplode(_bands(F.col("text"))))
        .select(
            "doc_id",
            F.col("pos").alias("band_id"),
            F.col("col").alias("band_hash"),
        )
    )


def _minhash_fused(
    documents: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, bands: array<long>, shs: array<string>) — ONE kernel
    pass producing both the LSH band hashes and the distinct shingle
    list per document.

    :func:`minhash_dedup_pairs` needs both: band hashes for candidate
    generation and the shingle sets for the exact-Jaccard verify.
    Computing them in separate kernels (:func:`minhash_band_hashes` +
    :func:`shingles`) tokenizes and shingles the ENTIRE corpus text
    twice — two full passes over the heaviest Python-boundary work in
    the dedup suite. This kernel tokenizes once, reuses the shingle
    dict for the crc32→minhash→band fold, and emits both columns; the
    band table and the shingle index are cheap JVM-side explodes of
    the persisted result. Per-text semantics are bit-identical to the
    two single-purpose kernels (same ``re.ASCII`` tokenization, same
    insertion-ordered distinct shingles, same hash family).
    """
    import re
    import zlib

    import numpy as np
    import pandas as pd

    k = bands * rows
    ascii_nonword = re.compile(r"\W+", re.ASCII)
    a_mat = np.array(_HASH_A[:k], dtype=np.uint64)[:, None]
    b_mat = np.array(_HASH_B[:k], dtype=np.uint64)[:, None]
    p = np.uint64(_P32)
    fnv = np.uint64(1099511628211)
    n = SHINGLE_N

    @F.pandas_udf("struct<bands:array<long>, shs:array<string>>")
    def _both(texts):
        out_bands = []
        out_shs = []
        for t in texts:
            ws = [w for w in ascii_nonword.split(t.lower()) if w]
            if len(ws) >= n:
                sh = dict.fromkeys(
                    " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
                )
            else:
                sh = {" ".join(ws): None}
            x = np.fromiter(
                (zlib.crc32(s.encode()) for s in sh),
                dtype=np.uint64,
                count=len(sh),
            )
            sig = ((a_mat * x[None, :] + b_mat) % p).min(axis=1)
            with np.errstate(over="ignore"):
                bh = np.zeros(bands, dtype=np.uint64)
                for r in range(rows):
                    bh = bh * fnv + sig.reshape(bands, rows)[:, r]
            out_bands.append(bh.astype(np.int64))
            out_shs.append(list(sh))
        return pd.DataFrame({"bands": out_bands, "shs": out_shs})

    return (
        spread(documents, "doc_id")
        .select("doc_id", _both(F.col("text")).alias("_bs"))
        .select(
            "doc_id",
            F.col("_bs.bands").alias("bands"),
            F.col("_bs.shs").alias("shs"),
        )
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    banded: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded MinHash signatures.

    Signature split into ``bands`` bands of ``rows`` hashes; docs
    colliding in any band pair up. Self-join key is (band_id,
    band_hash) — candidate volume is data-dependent but never O(n²).

    ``banded`` lets a caller that already has the (doc_id, band_id,
    band_hash) frame (:func:`minhash_dedup_pairs`'s fused kernel) skip
    the standalone band pass.
    """
    # Persist: both self-join sides read the banded signatures — without
    # it the whole shingle→signature pipeline runs twice.
    if banded is None:
        banded = tracked_persist(minhash_band_hashes(documents, bands, rows))
    # corpus × corpus band self-join: estimate-independent shuffle
    # join, never a statically-planned broadcast (see _prefix_index)
    l, r = banded.alias("l"), banded.alias("r").hint("shuffle_hash")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates()
    )


def minhash_dedup_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    expect_small: bool = True,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    LSH prunes candidates; each survivor is re-checked against the true
    shingle sets, so precision is exact and only recall depends on the
    banding. Output matches :func:`ngram_jaccard_pairs` whenever LSH
    recall is 1 at the threshold (tested on the fixtures).
    """
    # ONE fused kernel pass (see _minhash_fused) yields both the band
    # hashes (candidate generation) and the shingle lists (exact
    # verify); the persisted per-doc frame is the only Python-boundary
    # crossing — the band table and the shingle index are JVM explodes
    # over it, so the corpus text is tokenized exactly once.
    fused = tracked_persist(_minhash_fused(documents))
    sh = fused.select("doc_id", F.explode("shs").alias("sh"))
    banded = fused.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )
    cand = minhash_lsh_candidates(documents, banded=banded)
    if _shingle_bound_cleared(documents, max_set_size):
        max_set_size = None  # provably all under bound — skip the probe
    return _verified_jaccard(
        sh, cand, threshold,
        expect_small=expect_small, max_set_size=max_set_size,
        packed=fused.select("doc_id", "shs"),
    )


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """Benchmark decontamination: per training document, how many
    distinct word n-grams it shares with an evaluation/benchmark corpus
    — the standard leak check a training-data pipeline runs before any
    eval set is trusted (any hit means benchmark text is inside the
    training corpus).

    Returns (doc_id, n_hits) for contaminated documents only.

    Scale: inverted-index join on the shingle, never a doc-level cross
    join. The benchmark side collapses to its distinct shingle set
    first — benchmarks are tiny next to a training corpus, so AQE
    broadcasts that side and the corpus's shingle index never shuffles;
    the grouped count then reduces map-side to one row per contaminated
    doc.
    """
    sh_t = shingles(documents, n)
    sh_b = shingles(benchmark, n).select("sh").distinct()
    return (
        sh_t.join(sh_b, "sh")
        # shingles() emits distinct shingles per doc, so the plain count
        # is the distinct-overlap count.
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


def source_contamination(
    documents: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of document
    sources, the number of distinct word ``n``-gram shingles they share
    and the Jaccard overlap of their shingle vocabularies — the
    source-level generalization of :func:`decontaminate` (which screens
    one training corpus against one benchmark). A pipeline mixing many
    crawl/curated sources runs this to find mirror sites, shared
    boilerplate, and cross-source benchmark leakage before trusting
    per-source mixing weights.

    Returns ``(src_a, src_b, n_shared, jaccard)`` for source pairs with
    at least one shared shingle, ``src_a < src_b``.

    Scale: the only wide frame is the distinct ``(shingle, source)``
    index, reduced map-side before its shuffle. Pair generation then
    happens WITHIN each shingle's source set — an array bounded by the
    source catalog size (tens, a constant next to the corpus), expanded
    with in-kernel higher-order functions — so the worst case is
    O(#distinct shingles x C(S,2)) with no doc-level or row-level
    self-join anywhere. The final matrix is C(S,2) rows.
    """
    sh = shingles(documents, n)
    src_sh = (
        # the (doc_id, source) side is corpus-sized — pinned SMJ so a
        # garbage estimate can never broadcast it (see _prefix_index)
        sh.join(documents.select("doc_id", "source").hint("merge"), "doc_id")
        .select("source", "sh")
        .distinct()
    )
    src_sh = tracked_persist(src_sh)
    vocab = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    # Per-shingle sorted source set (bounded by the source catalog), then
    # all ordered pairs from inside the array — no self-join on the index.
    sets = src_sh.groupBy("sh").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("srcs"),
                lambda a: F.transform(
                    F.filter(F.col("srcs"), lambda b: b > a),
                    lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                ),
            )
        )
    )
    shared = (
        sets.select(pair.alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    va = F.broadcast(vocab.select(F.col("source").alias("src_a"), F.col("v").alias("va")))
    vb = F.broadcast(vocab.select(F.col("source").alias("src_b"), F.col("v").alias("vb")))
    return (
        shared.join(va, "src_a")
        .join(vb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


#: repeated_passages defaults: window length in words and the anchor
#: density (one expected anchor per PASSAGE_ANCHOR_MOD words).
PASSAGE_WINDOW = 20
PASSAGE_ANCHOR_MOD = 8


def repeated_passages(
    documents: DataFrame,
    window_words: int = PASSAGE_WINDOW,
    anchor_mod: int = PASSAGE_ANCHOR_MOD,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-passage mining: ``window_words``-word passages
    that occur verbatim in at least ``min_docs`` distinct documents —
    the exact-substring flavor of dedup (boilerplate paragraphs, license
    headers, syndicated passages embedded in otherwise-distinct pages)
    that set-based shingle Jaccard deliberately ignores. The reference
    engine has no analog; this extends the dedup family the same way
    ``decontaminate`` does (cf. suffix-array exact-substring dedup in
    the training-data literature, recast as a digest aggregation).

    Windows are CONTENT-DEFINED, not stride-aligned: a window starts at
    every *anchor word* — a word whose portable md5-prefix hash is
    ``0 mod anchor_mod``. Anchoring is a pure function of the word, so
    two documents sharing a passage sample the SAME windows regardless
    of where the passage sits in either document (a fixed-stride grid
    would miss unaligned copies). Detection contract (deterministic,
    not probabilistic): any verbatim shared word run containing an
    anchor word followed by ``window_words - 1`` more shared words is
    reported; expected window density is one per ``anchor_mod`` words.

    Returns ``(digest, n_docs, n_occ, first_doc)`` per repeated
    passage, digest-sorted — sha256 of the passage text, so downstream
    joins (e.g. masking the passage out of each document) key on a
    fixed-width digest.

    Scale: one projection computes anchors and windows in-kernel
    (higher-order functions over the word array — no explode of every
    position); the only shuffle is the digest aggregation with
    map-side combine, carrying ~n_words/anchor_mod fixed-width rows per
    document and never the text. The output is bounded by the number of
    genuinely repeated passages.
    """
    ws = F.filter(
        F.split(F.lower(F.col("text")), r"\W+"), lambda w: w != F.lit("")
    )
    docs = documents.select("doc_id", ws.alias("ws")).filter(
        F.size("ws") >= window_words
    )
    word_hash = lambda w: F.conv(  # noqa: E731 — md5-prefix portable hash
        F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10
    ).cast("long")
    anchors = F.filter(
        F.sequence(F.lit(1), F.size("ws") - F.lit(window_words - 1)),
        lambda i: F.pmod(word_hash(F.element_at(F.col("ws"), i)), F.lit(anchor_mod))
        == F.lit(0),
    )
    windows = docs.select(
        "doc_id", F.explode(anchors).alias("p"), F.col("ws")
    ).select(
        "doc_id",
        F.sha2(
            F.array_join(
                F.slice(F.col("ws"), F.col("p"), window_words), " "
            ).cast("binary"),
            256,
        ).alias("digest"),
    )
    return (
        windows.groupBy("digest")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy("digest")
    )


def neardup_clusters(
    pairs: DataFrame, max_iter: int = 20, expect_small: bool = True
) -> DataFrame:
    """Connected components over near-dup pairs: every document that
    appears in a pair gets a ``cluster_id`` = the smallest doc_id
    reachable through the pair graph — the "keep one canonical document
    per duplicate cluster" step that follows any pairwise dedup.

    Min-label propagation with pointer jumping: each iteration every
    vertex takes the min of (its own label, its neighbors' labels — one
    edge hop — and its label's label — one pointer jump through the
    previous round's labels). The jump lets the minimum travel through
    already-labelled vertices, so a chain of length d converges in
    O(log d) rounds instead of the O(d) of plain propagation — a
    1000-document drift chain needs ~10 rounds, not 1000. The loop stops
    as soon as an iteration changes nothing, and **raises** if
    ``max_iter`` rounds were not enough: a silently non-converged
    labelling would merge-split clusters wrongly with no signal to the
    caller.

    Each iteration is ONE Spark job: the new labels are lazily
    ``localCheckpoint``-ed and the convergence filter-count is the
    action that materializes them — no separate checkpoint job (the old
    hop-then-jump formulation paid two jobs per round and recomputed
    the hop frame on both sides of its self-join; jumping through the
    checkpointed previous labels makes every join input a cached scan).
    The checkpoint truncates lineage so iteration N's plan does not
    re-optimize (and on cache eviction re-execute) iterations 1..N-1.
    The driver sees only the converged flag, never the data.

    ``expect_small=True`` (the near-dup case: output bounded by pairs)
    presents via a single-partition sort; pass ``False`` for a
    duplicate-heavy corpus where one row per paired document is still
    big — the output then uses a range-partitioned ``orderBy``.
    """
    # Symmetrize in ONE pass over the (possibly expensive — e.g. a full
    # MinHash or n-gram verify pipeline) pairs input: explode each edge
    # into both directions, so the pairs plan is read once, inside the
    # same job that materializes the checkpoint every iteration reuses.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    # Seed each vertex with min(own id, direct-neighbor min): identical
    # to the first edge-hop round (neighbors' initial labels ARE their
    # ids) for the price of one aggregation instead of a join round.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr0"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("nbr0")).alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    changed = -1
    for _ in range(max_iter):
        # edges × labels are both pair-graph-sized — pinned SMJ (see
        # _prefix_index's estimate-safety note), as are the label-map
        # joins below
        nbr_min = sym.join(
            labels.hint("merge"), sym["dst"] == labels["doc_id"]
        ).groupBy("src").agg(F.min("cluster_id").alias("nbr_min"))
        # Pointer jump: a label is always some vertex's doc_id, so the
        # label of my label is defined — chase it one level through the
        # PREVIOUS round's labels (a checkpointed scan, so this self-
        # join re-reads a cache instead of recomputing the aggregation).
        # Combined with the edge hop, the distance to the component
        # minimum roughly halves per round.
        ref = labels.select(
            F.col("doc_id").alias("ref_id"),
            F.col("cluster_id").alias("ref_label"),
        )
        upd = (
            labels.join(
                nbr_min.hint("merge"), labels["doc_id"] == nbr_min["src"], "left"
            )
            .join(ref.hint("merge"), labels["cluster_id"] == ref["ref_id"], "left")
            .select(
                "doc_id",
                F.col("cluster_id").alias("old_cluster_id"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                    F.coalesce(F.col("ref_label"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        # The convergence count is the action that materializes the
        # checkpoint — one job per iteration, not checkpoint + count.
        changed = upd.filter(
            F.col("cluster_id") != F.col("old_cluster_id")
        ).count()
        labels = upd.select("doc_id", "cluster_id")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} iterations "
            f"({changed} labels still changing) — raise max_iter"
        )
    # Presentation order on the labels: pair-bounded and small on a
    # curated corpus (single-partition sort, no range-sampling job);
    # range-partitioned orderBy when the caller expects one row per
    # paired document to still be big.
    return presentation_sorted(labels, "doc_id", expect_small=expect_small)


def streaming_exact_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("text",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup on an unbounded stream: first occurrence of each key
    within the watermark horizon passes, later copies are dropped.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes it — bounded state on an unbounded corpus, which is
    the streaming-ingest half of :func:`exact_dedup` (dedup-at-ingest
    before documents ever land in the lake). The watermark is the
    dedup horizon: duplicates arriving farther apart than it may both
    survive, the price of bounded state.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_dedup_ingest(
    stream_docs: DataFrame,
    parts_table: str,
    checkpoint: str | None = None,
    tiered_every: int | None = 8,
):
    """Streaming-ingest twin of :func:`exact_dedup` through the
    stream→queryable-table loop (the reference's continuous
    stream→SnappyData-table pattern, ``ParquetTableJoin.scala:32-43``):
    each micro-batch groups its documents by SHA-256 text digest ONCE
    at arrival and blind-appends per-digest partials ``(digest,
    doc_id=min, n_copies=count, text=min_by)``; the global dedup is the
    same aggregation over the partials, folded at query time by
    :func:`dedup_from_state` — row-identical to the batch op after a
    bounded stream drains (min/count/min_by partials are
    batching-insensitive, so the batch oracle applies verbatim).

    Scale: per batch one map-side-combined digest aggregation — each
    distinct text crosses the wire at most once per batch regardless of
    how many copies arrive, and the shuffle KEY is always the 32-byte
    digest, never the document body. The state table grows by at most
    |distinct texts in batch| rows per micro-batch. Rides
    :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting copies.

    ``tiered_every`` (default 8; ``None`` disables): TIERED compaction
    for long-running streams. The live state here is CORPUS-sized (one row per distinct
    text, carrying the text itself), so the floor mechanism's
    full-state rewrite every N batches is O(corpus) write
    amplification — the wrong trade (the r13 analysis). Tiered mode
    merges only the raw batch partitions landed since the previous
    merge (:func:`compact_dedup_partials` — same exact sum-of-sums
    fold as the reader), so every row is rewritten exactly once EVER
    (2x total write amplification, independent of stream age) while
    the read fold opens O(age / tiered_every) merged partitions plus a
    bounded raw tail instead of O(age) raw fragments. Values are
    unchanged either way — the fold's digest re-group is associative.
    """
    from flink_snappydata_spark.streaming.runtime import (
        ingest_stream_to_tables,
    )

    return ingest_stream_to_tables(
        stream_docs,
        [(parts_table, None)],
        prepare=dedup_partials,
        checkpoint=checkpoint,
        # coalesce the segment to a few files: the merge's digest
        # shuffle would otherwise leave shuffle_partitions small files
        # per segment — more files than the raws it replaced (the same
        # re-shard trap the raw-log identity merge hit; see
        # streaming_event_log_ingest). 4 matches the harness-scale
        # file layout used by the prebuilt IVFADC index; a real
        # deployment sizes this to its segment bytes.
        compact=(
            (lambda f: compact_dedup_partials(f).coalesce(4))
            if tiered_every
            else None
        ),
        compact_every=tiered_every or 8,
        compact_mode="tiered",
    )


def dedup_partials(batch_df: DataFrame) -> DataFrame:
    """One batch's per-digest dedup partials — the
    :func:`streaming_dedup_ingest` prepare step, module-level so the
    fold scale probe (``tools/scale_probe.py`` mode ``folds``) lands
    the identical state batch-side."""
    return batch_df.groupBy(
        F.sha2(F.col("text").cast("binary"), 256).alias("digest")
    ).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min_by("text", "doc_id").alias("text"),
    )


def compact_dedup_partials(parts: DataFrame) -> DataFrame:
    """Schema-preserving merge of dedup partials (min of mins, sum of
    sums, min_by representative — exactly the reader's fold), used by
    the tiered-compaction path to collapse one window of raw batch
    partitions into a single merged partition. Digest-keyed shuffle of
    window-sized input only — never the whole corpus."""
    return parts.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.sum("n_copies").cast("long").alias("n_copies"),
        F.min_by("text", "doc_id").alias("text"),
    )


def dedup_from_state(spark, parts_table: str) -> DataFrame:
    """Fold the :func:`streaming_dedup_ingest` partials into the global
    exact-dedup result: re-group by digest (min of mins, sum of counts,
    min_by representative — all map-side-combinable), matching
    :func:`exact_dedup` row-for-row. ``batch_id`` is ingest lineage,
    not state — dropped here. The output is O(distinct texts) rows, so
    no presentation sort is bolted on (the driver's hash compare is
    order-insensitive; batch ``exact_dedup`` sorts only for human
    eyes). Reads through
    :func:`~flink_snappydata_spark.streaming.runtime.read_state_table`
    so tiered-compacted state (merged partitions + live raw tail) and
    plain append-only state fold identically."""
    from flink_snappydata_spark.streaming.runtime import read_state_table

    return (
        read_state_table(spark, parts_table)
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.sum("n_copies").cast("long").alias("n_copies"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .select("doc_id", "n_copies", "text")
    )


#: SimHash width: 60 bits — 15 hex chars of md5 cast to BIGINT is the
#: widest hex→int both Spark (``conv``) and any-SQL (``'0x…'::BIGINT``)
#: compute without overflowing int64, making fingerprints portable.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per document from portable token hashes, all-JVM.

    Each token hashes to the low 60 bits of its md5 (`conv(substr(md5))`
    — portable: the DuckDB oracle computes the identical value with a
    hex cast, unlike engine-specific xxhash64) and contributes ±1 per
    bit position (weighted by term frequency); fingerprint bit i is the
    sign of the sum. 60 small integer aggregations — partial aggs keep
    the shuffle at one row per doc.

    Measured dead end (round 6, do not retry): pre-aggregating tf per
    (doc_id, word) before hashing — md5 per distinct word, ±tf sums —
    is bit-identical but ~30% SLOWER at sf0.1 (median 2.7s vs 2.0s in
    an A/B on the same harness): the extra (doc_id, word) shuffle costs
    more than the saved hash calls because fixture/document vocabularies
    repeat few words within a doc. Revisit only for corpora with heavy
    within-document repetition.
    """
    tok = spread(documents, "doc_id").select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\W+"), lambda w: w != F.lit(""))
        ).alias("word"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("word").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.alias("simhash"))


def simhash_dedup_pairs(
    documents: DataFrame, max_hamming: int = 3, expect_small: bool = True
) -> DataFrame:
    """SimHash near-dup pairs: 15-bit band blocking + Hamming verify.

    Any pair within Hamming distance ≤3 of a 60-bit fingerprint shares
    at least one of the 4 15-bit bands exactly (pigeonhole), so blocking
    on band equality loses no recall at max_hamming ≤ 3.

    ``expect_small=False`` keeps the presentation sort distributed on a
    duplicate-heavy corpus (pair lists are O(corpus) there).
    """
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    fps = simhash_fingerprints(documents)
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright(F.col("simhash"), j * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_val").transform(tracked_persist)
    # corpus × corpus band self-join: estimate-independent shuffle
    # join, never a statically-planned broadcast (see _prefix_index)
    l, r = bands.alias("l"), bands.alias("r").hint("shuffle_hash")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
        .transform(
            lambda d: presentation_sorted(
                d, "doc_a", "doc_b", expect_small=expect_small
            )
        )
    )


#: A line is "boilerplate" when it occurs more than this many times
#: across the corpus (CCNet/RefinedWeb-style line-level dedup keeps a
#: line's first few occurrences conceptually; here the whole class is
#: dropped from every document, the common bulk-curation policy).
LINE_MAX_OCC = 5

#: Ultra-hot split bound for the boilerplate digest join: digests
#: carrying ≥ 1/4096 of all corpus lines broadcast (at most 4096 of
#: them can exist), so the shuffled remainder has no key above
#: 1/4096 of the line count — the same hot/tail discipline as
#: text._join_word_stats_skew_safe.
LINE_HOT_MAX = 4096


def line_dedup(
    documents: DataFrame,
    max_occurrences: int = LINE_MAX_OCC,
    sort: bool = True,
) -> DataFrame:
    """Boilerplate line removal (CCNet-style line-level dedup): drop
    from every document each line whose corpus-wide occurrence count
    exceeds ``max_occurrences`` — the navigation-bar / cookie-banner /
    footer stripping step that runs before document-level near-dup in
    a web-scale curation pipeline.

    Lines are ``\\n``-separated; a line's identity is the 60-bit
    md5-prefix digest of its exact bytes (the engine's portable-hash
    idiom — DuckDB computes the identical value, and the documented
    collision tradeoff of the fingerprint ops applies: a 60-bit
    collision can only over-drop, at ~2^-60 per pair). Blank lines
    hash together, so repeated blanks count as boilerplate — the
    standard policy. Returns one row per document:
    ``(doc_id, n_lines, n_dropped, kept_text)`` with ``kept_text`` the
    surviving lines re-joined in original order ('' when everything
    was boilerplate).

    Scale: LINE TEXT NEVER SHUFFLES. The digest is projected in-row on
    the scan; the occurrence count groups digests only; membership of
    a line in the drop set is two semi-joins on the digest — the
    ultra-hot slice (≥ 1/:data:`LINE_HOT_MAX` of all lines, ≤
    :data:`LINE_HOT_MAX` digests by construction) broadcasts, so the
    single cookie-banner line shared by 100 M pages never rides one
    reducer, and the shuffled remainder has no key above
    1/:data:`LINE_HOT_MAX` of the corpus. Reassembly joins a
    (doc_id → dropped positions) frame — bounded by dropped lines,
    narrow ints — back to the original scan and filters the split
    array in-row; the only corpus-sized shuffle is that doc_id join.
    """
    arr = F.split(F.col("text"), "\n")
    keyed = documents.select(
        "doc_id", F.posexplode(arr).alias("pos", "line")
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("line").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    counts = keyed.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    total = counts.agg(F.sum("occ").alias("n_total"))
    hot = counts.filter(F.col("occ") > max_occurrences).crossJoin(
        F.broadcast(total)
    )
    ultra = hot.filter(
        F.col("occ") * F.lit(LINE_HOT_MAX) >= F.col("n_total")
    ).select("h")
    tail = hot.filter(
        F.col("occ") * F.lit(LINE_HOT_MAX) < F.col("n_total")
    ).select("h")
    # ultra is ≤4096 digests by construction (broadcast); tail is
    # digest-frame-sized — pinned shuffle join (see _prefix_index)
    dropped = keyed.join(F.broadcast(ultra), "h", "left_semi").unionByName(
        keyed.join(tail.hint("shuffle_hash"), "h", "left_semi")
    )
    drop_pos = dropped.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("dp"),
        F.count(F.lit(1)).alias("n_dropped"),
    )
    dp = F.coalesce(F.col("dp"), F.array().cast("array<int>"))
    # drop_pos is corpus-sized (one row per affected doc) — pinned SMJ
    out = documents.join(drop_pos.hint("merge"), "doc_id", "left").select(
        "doc_id",
        F.size(arr).cast("long").alias("n_lines"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias(
            "n_dropped"
        ),
        F.array_join(
            F.filter(arr, lambda x, i: ~F.array_contains(dp, i)),
            "\n",
        ).alias("kept_text"),
    )
    return out.orderBy("doc_id") if sort else out


# ---------------------------------------------------------------------------
# Fuzzy vocabulary matching (SymSpell deletion-neighborhood join)
# ---------------------------------------------------------------------------

#: Every TYPO_EVERY-th document contributes a synthesized typo (its
#: first ≥4-char word with the 2nd character deleted) — the same
#: deterministic both-engine enrichment device the PII oracle uses,
#: since the fixture vocabulary contains no organic edit-1 pairs.
TYPO_EVERY = 7


def typo_pairs(documents: DataFrame) -> DataFrame:
    """Fuzzy token matching — SymSpell-style (Garbe) edit-distance-1
    correction pairs between a dirty token stream and the corpus
    vocabulary: the entity-resolution / spelling-normalization step a
    curation pipeline runs on OCR or user-generated text. Returns
    ``(typo, word, n_docs)`` — each synthesized typo, every vocabulary
    word within edit distance 1 of it, and how many documents emitted
    that typo.

    The fuzzy join is NOT a quadratic cross-product with a Levenshtein
    filter: both sides expand to their 1-DELETION NEIGHBORHOODS (the
    word plus every single-character deletion — length+1 keys per
    token, built by in-kernel higher-order functions) and equi-join on
    the deletion key; edit-distance-1 pairs of any kind (deletion,
    insertion, substitution) are guaranteed to share a key, and the
    exact ``levenshtein() = 1`` check runs only on those candidates.
    That turns O(|dirty|·|vocab|) into an equi-join with ~len keys per
    word — the SymSpell trick, and the only fuzzy-join shape that
    survives a 100 TB vocabulary.

    Scale: both key frames are vocabulary-sized, never corpus-sized
    (dirty tokens aggregate to distinct typos with doc counts first);
    document text never shuffles; deletion keys are short strings with
    bounded fan-out, so no skewed join key.
    """
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\W+"), lambda w: w != F.lit("")
    )
    dirty = (
        documents.filter(F.pmod(F.col("doc_id"), F.lit(TYPO_EVERY)) == 0)
        .select(F.element_at(words, 1).alias("w"))
        .filter(F.length("w") >= 4)
        .select(
            F.concat(
                F.substring(F.col("w"), 1, 1), F.expr("substring(w, 3)")
            ).alias("typo")
        )
        .groupBy("typo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    vocab = (
        spread(documents, "doc_id")
        .select(F.explode(words).alias("word"))
        .filter(F.length("word") >= 3)
        .distinct()
    )
    del_keys = (
        "array_union(array({w}), transform(sequence(1, length({w})), "
        "i -> concat(substring({w}, 1, i - 1), substring({w}, i + 1))))"
    )
    dirty_keys = dirty.select(
        "typo",
        "n_docs",
        F.explode(F.expr(del_keys.format(w="typo"))).alias("k"),
    )
    vocab_keys = vocab.select(
        "word", F.explode(F.expr(del_keys.format(w="word"))).alias("k")
    )
    return (
        # both deletion-key sides are vocabulary-sized: pinned shuffle
        # join, never an estimate-driven broadcast (see _prefix_index)
        dirty_keys.join(vocab_keys.hint("shuffle_hash"), "k")
        .filter(F.levenshtein(F.col("typo"), F.col("word")) == 1)
        .select("typo", "word", "n_docs")
        .distinct()
        .orderBy("typo", "word")
    )
