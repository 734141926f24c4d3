"""Deduplication operators over the ``documents`` table.

Web-scale training-data surface (new vs the reference, which has no string
ops — SURVEY.md §2.8): exact dedup, MinHash+LSH near-dup pairs and
clusters, SimHash near-dup, exact n-gram Jaccard verification.  Each
operator has one implementation, built from JVM Column expressions over
md5 digests (whole-stage codegen, no Python UDF), and each has a DuckDB
twin in ``entrylib.CONTRACT``.

Scale shape: exact dedup is one hash-shuffle groupBy (map-side partial
aggregation; Catalyst handles skew via AQE).  MinHash-LSH is the canonical
shingle->signature->band->bucket-join pipeline: candidate pairs only form
inside a band bucket (no O(n^2) crossjoin); the final exact-Jaccard refine
touches candidate pairs only.  At 100 TB both are linear scans + bounded
shuffles keyed by content hashes — no driver-side state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: (rep_doc_id, n_dups), representative =
    min(doc_id).  One shuffle keyed by the md5 DIGEST of the text (hex
    form, 32 bytes/doc) — never by the text itself: a text-keyed
    groupBy's exchange carries one copy of every distinct document
    (~corpus bytes at 100 TB).  Digest equality is the
    standard dedup identity (an md5 collision would merge two distinct
    texts; at 2^-64-per-pair odds every production pipeline accepts it);
    the DuckDB twin mirrors the same md5 grouping."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("rep_doc_id", "n_dups")
    )


def bucket_pairs(bands_df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs from same-bucket membership
    — the shared tail of both banded LSH paths (md5 minhash, simhash):
    collect each bucket's id list and emit unordered
    pairs with one JVM higher-order expression (i is 0-based, slice is
    1-based, so i+2 = 'strictly after a').  Duplicate doc_ids in one
    bucket would yield degenerate a==a pairs (the old self-join's strict
    doc_a < doc_b excluded them) — filtered.  ``bands_df`` must carry
    ``doc_id`` plus ``key_cols``."""
    pairs_in_bucket = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> "
        "struct(least(a, b) AS doc_a, greatest(a, b) AS doc_b))))")
    return (bands_df.groupBy(*key_cols)
            .agg(F.collect_list("doc_id").alias("ids"))
            .where(F.size("ids") > 1)
            .select(F.explode(pairs_in_bucket).alias("p"))
            .where(F.col("p.doc_a") != F.col("p.doc_b"))
            .select("p.doc_a", "p.doc_b")
            .distinct())


# Shared Spark/DuckDB SQL fragment: given hex digest column ``h`` and bit
# index column ``j`` (0..63), +1 if bit j of the 64-bit hex prefix is set
# else -1.  Bit j lives in hex char j/4 at weight 2^(3 - j%4); both engines
# agree on substring/instr/floor/pow semantics here, so the simhash below
# is bit-identical across Spark and the DuckDB oracle.
SIMHASH_SIGN_EXPR = (
    "case when floor((instr('0123456789abcdef', "
    "substring(h, cast(floor(j / 4) as int) + 1, 1)) - 1) "
    "/ pow(2, 3 - (j % 4))) % 2 = 1 then 1 else -1 end"
)


def _hex_bigint_expr(hcol: str, c0: int, c1: int) -> str:
    """Hex chars ``c0..c1`` (1-based, inclusive) of digest column ``hcol``
    as a bigint — instr/substring/cast arithmetic both engines evaluate
    identically (the int side is cast to bigint BEFORE scaling: Spark 4
    ANSI mode keeps sub-2^31 literals INT and would overflow)."""
    terms = " + ".join(
        f"cast(instr('0123456789abcdef', substring({hcol}, {c}, 1)) - 1 as bigint) * {16 ** (c1 - c)}"
        for c in range(c0, c1 + 1))
    return f"cast({terms} as bigint)"


_LANE = 24  # lane spacing/headroom: supports up to 2^24-1 shingles per doc


def _simhash_packed_pos(j: int) -> tuple[str, int]:
    """Digest bit j (0..63) -> (half, packed position): hex char j//4+1
    holds bit j at in-char weight 2^(3 - j%4), which lands at position
    4*(11 - j//4) + 3 - j%4 inside the 48-bit first half ('w0') or
    4*(15 - j//4) + 3 - j%4 inside the 16-bit second half ('w1')."""
    if j < 48:
        return "w0", 4 * (11 - j // 4) + 3 - j % 4
    return "w1", 4 * (15 - j // 4) + 3 - j % 4


def _simhash_count_expr(j: int) -> str:
    """Shingle count with digest bit j set, extracted from the lane-packed
    sums of :func:`simhash_md5_table`.  Each sum accumulates
    ``S_low + S_high * 2^24`` (the masked pair is shifted down to
    positions 0/24 BEFORE summing, so headroom is a true 24 bits per lane
    regardless of the bits' native positions): w0 sums ``p{q}`` carry
    positions (q, q+24); w1 sums ``q{q}`` carry h16b bits (q, q+8)."""
    col, p = _simhash_packed_pos(j)
    if col == "w0":
        name, lane = f"p{p % _LANE}", p // _LANE
    else:
        name, lane = f"q{p % 8}", p // 8
    if lane == 0:
        return f"pmod({name}, {1 << _LANE})"
    return f"shiftright({name}, {_LANE})"


def simhash_md5_table(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) — 64-bit SimHash over char-n-gram md5
    hashes, computed ENTIRELY with JVM Column expressions in ONE
    whole-stage-codegen pipeline (no Python, no UDF): scan -> explode
    shingle positions -> md5 -> conv-parse the digest's 64-bit prefix into
    two integer halves -> one map-side-combining hash aggregation per doc.

    The per-bit counts are LANE-PACKED masked sums: digest bits at packed
    positions q and q+24 share one ``sum(shiftright(half & mask, q))``
    accumulator — the shift normalizes the pair to positions 0/24 before
    summing, so BOTH lanes get a true 24 bits of headroom (summing the
    un-shifted mask instead would leave the top positions only 63-47=16
    bits and overflow int64 at ~2^17 shingles).  64 bit-counts thus need
    32 sum aggregates + one count instead of 64 per-bit string probes per
    exploded row (the previous formulation; measured ~2.5x slower and the
    dominant cost).  Bit j of the signature is set iff 2*S_j > n_shingles
    — exactly the sum(±1) > 0 majority rule, so results are bit-identical
    to the DuckDB per-bit twin.  Headroom bound (now real): a document
    over 2^24-1 shingles (~16.7M chars) would overflow a lane; chunk such
    documents upstream.

    Cross-engine-checkable: ``entrylib`` carries the DuckDB twin, which
    the md5 digest and integer arithmetic make possible (a splitmix-style
    mixer needs uint64 wraparound SQL can't express).  At 100 TB this is
    a single wide scan -> one hash aggregation keyed by doc_id; no driver
    state."""
    g = (docs
         .select("doc_id",
                 F.expr(f"explode(sequence(1, greatest(length(text) - {ngram - 1}, 1))) AS i"),
                 "text")
         .select("doc_id",
                 F.expr(f"md5(cast(substring(text, i, {ngram}) as binary))").alias("h"))
         # conv(hex, 16, 10): one builtin call per half (the instr-probe
         # parse of _hex_bigint_expr is for DuckDB-shared SQL only)
         .select("doc_id",
                 F.expr("cast(conv(substring(h, 1, 12), 16, 10) as bigint)").alias("w0"),
                 F.expr("cast(conv(substring(h, 13, 4), 16, 10) as bigint)").alias("h16b"))
         # double the 16-bit half (copies at p and p+16) so its 16 bits
         # also pack as 8 two-lane sums with 24-bit spacing
         .select("doc_id", "w0", F.expr("h16b | shiftleft(h16b, 16)").alias("w1")))
    aggs = [F.sum(F.expr(
        f"shiftright(w0 & cast({(1 << q) | (1 << (q + _LANE))} as bigint), {q})")).alias(f"p{q}")
        for q in range(_LANE)]
    aggs += [F.sum(F.expr(
        f"shiftright(w1 & cast({(1 << q) | (1 << (q + _LANE))} as bigint), {q})")).alias(f"q{q}")
        for q in range(8)]
    aggs.append(F.count(F.lit(1)).alias("nsh"))
    bits = g.groupBy("doc_id").agg(*aggs)
    lo = " + ".join(
        f"(case when 2 * {_simhash_count_expr(j)} > nsh then {1 << j} else 0 end)"
        for j in range(32))
    hi = " + ".join(
        f"(case when 2 * {_simhash_count_expr(j)} > nsh then {1 << (j - 32)} else 0 end)"
        for j in range(32, 64))
    return bits.select(
        "doc_id",
        F.expr(f"cast({lo} as bigint)").alias("sim_lo"),
        F.expr(f"cast({hi} as bigint)").alias("sim_hi"))


# -------------------------------------------- md5 MinHash (oracle-checkable) ---
#
# The shingle->signature->band->bucket pipeline, every step a JVM Column
# expression built from md5 + integer arithmetic that DuckDB evaluates
# bit-identically — so the LSH candidate set AND the exact-Jaccard refine
# have a full SQL twin (the driver's rows+schema+hash gate).  Shingles are hashed (md5 48-bit prefix mod p);
# Jaccard is computed over the hashed shingle sets on BOTH sides, so the
# two engines agree exactly.

MINHASH_P = 2147483647  # 2^31 - 1: products a*h stay < 2^62 (exact bigint)


def minhash_perm_coeffs(num_perm: int = 64, seed: int = 40503) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash coefficients sig_j = min((a_j*h + b_j) % p)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_P, size=num_perm)
    b = rng.integers(0, MINHASH_P, size=num_perm)
    return [int(v) for v in a], [int(v) for v in b]


def hex12_expr(hcol: str = "h") -> str:
    """First 12 hex chars of an md5 digest column as a 48-bit bigint —
    pure instr/substring arithmetic, identical in Spark SQL and DuckDB."""
    return _hex_bigint_expr(hcol, 1, 12)


def shingle_hashes_md5(docs: DataFrame, ngram: int = 4) -> DataFrame:
    """(doc_id, hm) distinct hashed TOKEN-n-gram shingles: md5 of each
    n-token window (space-joined), 48-bit prefix mod p.  Token shingles,
    not char shingles — over a template-like web corpus char n-grams from
    a small vocabulary make every document pair look similar (observed:
    candidate sets within a constant of all-pairs), while token windows
    keep the shingle space discriminative.

    Plan shape: explode the window POSITIONS, then build digest + parse as
    top-level expressions — whole-stage codegen end to end (an md5 inside
    a transform lambda evaluates interpreted; same lesson as
    :func:`simhash_md5_table`).  The 48-bit parse uses one ``conv`` call —
    value-identical to the instr-probe ``hex12_expr`` the DuckDB twin
    uses.  One wide scan -> explode -> distinct; at 100 TB the distinct is
    a hash aggregation keyed by (doc_id, hm)."""
    return (docs
            .select("doc_id", F.split("text", " ", -1).alias("toks"))
            .select("doc_id", "toks",
                    F.expr(f"explode(sequence(1, greatest(size(toks) - {ngram - 1}, 1))) AS i"))
            .select("doc_id", F.expr(
                f"md5(cast(array_join(slice(toks, i, {ngram}), ' ') as binary))").alias("h"))
            .select("doc_id",
                    F.expr(f"cast(conv(substring(h, 1, 12), 16, 10) as bigint) % {MINHASH_P}")
                    .alias("hm"))
            .distinct())


def minhash_md5_pairs(docs: DataFrame, threshold: float = 0.5, num_perm: int = 64,
                      bands: int = 16, ngram: int = 4, seed: int = 40503) -> DataFrame:
    """Near-duplicate pairs (doc_a, doc_b, jaccard) with an exact DuckDB
    twin: md5-hashed shingles -> num_perm min-hash signatures (one hash
    aggregate, num_perm min columns) -> band keys -> bucket-grouped
    candidate pairs -> exact Jaccard over the hashed shingle sets
    (hash-join intersection counts; candidate count, not corpus count,
    bounds the refine).  No self-join over the corpus at any step."""
    a, b = minhash_perm_coeffs(num_perm, seed)
    rows_per_band = num_perm // bands
    # the hashed-shingle table feeds FOUR consumers (signatures, set sizes,
    # both refine join sides); without materialization each one re-runs the
    # scan -> explode -> md5 -> distinct subtree.  One eager localCheckpoint
    # computes it once and truncates the plan (same pattern + rationale as
    # simhash_neardup_pairs' cluster table).
    sh = shingle_hashes_md5(docs, ngram).localCheckpoint(eager=True)
    sigs = sh.groupBy("doc_id").agg(
        *[F.expr(f"min(({a[j]} * hm + {b[j]}) % {MINHASH_P})").alias(f"sig{j}")
          for j in range(num_perm)])
    band_keys = [
        F.concat_ws(",", *[F.col(f"sig{bnd * rows_per_band + r}").cast("string")
                           for r in range(rows_per_band)])
        for bnd in range(bands)]
    bands_df = sigs.select("doc_id", F.posexplode(F.array(*band_keys)).alias("band", "bkey"))
    cand = bucket_pairs(bands_df, ["band", "bkey"])
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    A = sh.select(F.col("doc_id").alias("doc_a"), F.col("hm").alias("hma"))
    B = sh.select(F.col("doc_id").alias("doc_b"), F.col("hm").alias("hma"))
    inter = (cand.join(A, "doc_a").join(B, ["doc_b", "hma"])
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter")))
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    from ..sqlcompat import flit
    return (inter.join(sza, "doc_a").join(szb, "doc_b")
            .withColumn("jaccard",
                        F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
                        .cast("double"))
            .where(F.expr(f"jaccard >= {flit(threshold)}"))
            .select("doc_a", "doc_b", "jaccard"))


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3, ngram: int = 3) -> DataFrame:
    """SimHash near-duplicate pairs — the scale path for simhash dedup,
    fully oracle-checkable: band the 64-bit signature into 4x16-bit keys,
    candidate pairs only form inside a band bucket, refine with the exact
    popcount Hamming distance.

    RECALL BOUND: with 4 bands, pigeonhole guarantees a shared band only
    for Hamming distance <= 3 — hence the default.  A larger
    ``max_hamming`` returns only the candidate pairs that happen to agree
    on some band (pairs at distance 4+ disagreeing on all four bands are
    dropped); full recall at distance d needs >= d+1 bands.

    Documents with IDENTICAL signatures collapse into one cluster first
    (web corpora have huge identical-signature clusters; every member pair
    is hamming 0, so banding + refining them individually is a pure d^2
    blow-up): the band/refine machinery runs over distinct signatures only
    and cluster pairs expand at output — result-identical to the naive
    formulation.  Output (doc_a, doc_b, hamming), hamming <= max_hamming."""
    sim = simhash_md5_table(docs, ngram)
    # the cluster table is O(#distinct signatures) and feeds SIX branches
    # (intra, bands, both refine sides, both expansion sides).  An eager
    # localCheckpoint materializes it once AND truncates the logical plan —
    # without it each branch re-embeds the 64-aggregate signature subtree
    # and Catalyst's analysis of the six-way self-referencing union blows
    # up super-linearly (observed 20x wall on 5k docs).
    clusters = (sim.groupBy("sim_lo", "sim_hi")
                .agg(F.min("doc_id").alias("rep"),
                     F.sort_array(F.collect_list("doc_id")).alias("members"))
                .localCheckpoint(eager=True))
    # intra-cluster: identical signature -> hamming 0
    intra_pairs = F.expr(
        "flatten(transform(members, (a, i) -> "
        "transform(slice(members, i + 2, size(members)), b -> "
        "struct(a AS doc_a, b AS doc_b))))")  # members sorted -> a < b
    intra = (clusters.where(F.size("members") > 1)
             .select(F.explode(intra_pairs).alias("p"))
             .select("p.doc_a", "p.doc_b", F.lit(0).cast("bigint").alias("hamming")))
    # shiftright, not a bare float division: 10.0-style literals parse as
    # DECIMAL in Spark but DOUBLE in DuckDB (flit rule); integer shifts are
    # exactly the same non-negative value in both engines
    band_vals = [
        "pmod(sim_lo, 65536)",
        "shiftright(sim_lo, 16)",
        "pmod(sim_hi, 65536)",
        "shiftright(sim_hi, 16)",
    ]
    reps = clusters.select("rep", "sim_lo", "sim_hi")
    bands_df = reps.select(F.col("rep").alias("doc_id"),
                           F.posexplode(F.array(*[F.expr(v) for v in band_vals]))
                           .alias("band", "bkey"))
    cand = bucket_pairs(bands_df, ["band", "bkey"])
    A = reps.select(F.col("rep").alias("doc_a"), F.col("sim_lo").alias("lo_a"),
                    F.col("sim_hi").alias("hi_a"))
    B = reps.select(F.col("rep").alias("doc_b"), F.col("sim_lo").alias("lo_b"),
                    F.col("sim_hi").alias("hi_b"))
    rep_pairs = (cand.join(A, "doc_a").join(B, "doc_b")
                 .withColumn("hamming",
                             F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("bigint"))
                 .where(F.col("hamming") <= max_hamming)
                 .select("doc_a", "doc_b", "hamming"))
    ca = clusters.select(F.col("rep").alias("doc_a"), F.col("members").alias("ma"))
    cb = clusters.select(F.col("rep").alias("doc_b"), F.col("members").alias("mb"))
    cross_members = F.expr(
        "flatten(transform(ma, a -> transform(mb, b -> "
        "struct(least(a, b) AS doc_a, greatest(a, b) AS doc_b))))")
    inter = (rep_pairs.join(ca, "doc_a").join(cb, "doc_b")
             .select(F.explode(cross_members).alias("p"), "hamming")
             .select("p.doc_a", "p.doc_b", "hamming"))
    return intra.unionByName(inter)


def neardup_clusters(docs: DataFrame, threshold: float = 0.5, num_perm: int = 64,
                     bands: int = 16, ngram: int = 4, seed: int = 40503,
                     max_rounds: int = 30) -> DataFrame:
    """Corpus-level near-duplicate CLUSTERING: connected components over the
    :func:`minhash_md5_pairs` edge set — the step a real dedup run needs
    beyond pairs (keep one representative per component, not per pair;
    A~B, B~C must collapse A,B,C together even when A~C was never a
    candidate).  Output one row per document, ``(doc_id, cluster_id)``
    with ``cluster_id`` = min doc_id of the component (singletons cluster
    to themselves).

    Algorithm: iterative min-label propagation with pointer jumping —
    label(v) starts as v; each round takes ``min(label(v), min over
    neighbors' labels)`` then jumps ``label(v) <- label(label(v))``, so a
    min-id propagates along a path of length L in O(log L) rounds (plain
    propagation would need L rounds).  Each round is two shuffle joins
    keyed by doc_id over the LABEL table (edge endpoints only — near-dup
    docs, a small fraction of the corpus), eagerly localCheckpoint-ed to
    truncate lineage: the standard Spark iterative-graph pattern.  The
    driver-side loop is bounded by O(log n) convergence, checked with a
    per-round LIMIT 1 changed-row probe; a non-converged exit raises
    rather than returning a wrong answer.  At 100 TB: the edge set is
    LSH-bounded, every round's shuffles are keyed equi-joins, and the
    final assembly is one left join back to the corpus."""
    pairs = minhash_md5_pairs(docs, threshold, num_perm, bands, ngram, seed)
    lab = connected_components(pairs, max_rounds=max_rounds)
    return (docs.select("doc_id")
            .join(lab.select("doc_id", F.col("lbl").alias("cluster_id")), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", F.col("doc_id")).cast("bigint").alias("cluster_id")))


def connected_components(pairs: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Distributed connected components over an undirected edge list
    ``(doc_a, doc_b)`` — returns ``(doc_id, lbl)`` for every node that
    appears in an edge, ``lbl`` = min node id of its component.  The
    iterative graph kernel behind :func:`neardup_clusters`, exposed
    separately so any edge set (near-dup pairs, link graphs) can be
    clustered and so tests can drive it with constructed topologies."""
    # undirected adjacency as directed edges both ways (pairs are distinct
    # with doc_a < doc_b, so no duplicate directed edges).  explode-of-two
    # evaluates the pairs subtree ONCE — a union of pairs with its swap
    # would embed (and run) the upstream candidate+refine plan under both
    # branches
    edges = (pairs
             .select(F.explode(F.array(
                 F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                 F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))).alias("e"))
             .select(F.col("e.u").alias("doc_a"), F.col("e.v").alias("doc_b"))
             .localCheckpoint(eager=True))  # reused every round
    lab = (edges.select(F.col("doc_a").alias("doc_id")).distinct()
           .select("doc_id", F.col("doc_id").alias("lbl"))
           .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_rounds):
        # each half is checkpointed: ``stepped`` feeds the jump self-join
        # twice (uncheckpointed, the nbr_min subtree would run twice) and
        # ``jumped`` seeds the next round
        stepped = _cc_step(edges, lab).localCheckpoint(eager=True)
        jumped = _cc_jump(stepped).localCheckpoint(eager=True)
        changed = jumped.where(F.col("lbl") != F.col("old")).limit(1).count()
        lab = jumped.select("doc_id", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: no zero-change round within max_rounds={max_rounds} "
            "(labels may still be propagating, or the last change landed on the "
            "final round and went unverified); raise max_rounds")
    return lab


def _cc_step(edges: DataFrame, lab: DataFrame) -> DataFrame:
    """One propagation half-round: min over self + neighbor labels.  The
    incoming label is carried as ``old`` so the round's convergence probe
    is a plain filter — no extra shuffle join.  Split out (with
    :func:`_cc_jump`) so the plan audit can assert the per-round shape:
    keyed equi-joins only, never a cartesian."""
    nbr_min = (edges.join(lab.select(F.col("doc_id").alias("doc_b"),
                                     F.col("lbl").alias("lbl_b")), "doc_b")
               .groupBy("doc_a").agg(F.min("lbl_b").alias("nmin"))
               .withColumnRenamed("doc_a", "doc_id"))
    return (lab.join(nbr_min, "doc_id", "left")
            .select("doc_id", F.col("lbl").alias("old"),
                    F.least("lbl", F.coalesce("nmin", F.col("lbl"))).alias("lbl")))


def _cc_jump(stepped: DataFrame) -> DataFrame:
    """Pointer-jumping half-round: labels are themselves node ids, so
    ``label(label(v))`` is an equi self-join on the stepped table (min-ids
    only ever decrease)."""
    parent = stepped.select(F.col("doc_id").alias("p_id"), F.col("lbl").alias("p_lbl"))
    return (stepped.join(parent, stepped["lbl"] == parent["p_id"], "left")
            .select("doc_id", "old", F.coalesce("p_lbl", "lbl").alias("lbl")))
