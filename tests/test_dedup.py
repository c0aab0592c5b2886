"""Dedup pipeline on CONSTRUCTED corpora with known ground truth
(testdata near-dups only exercise the happy path; these pin the
semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.dedup import (
    exact_dup_groups,
    keep_one_filter,
    near_dup_pairs,
)
from tests.conftest import hash_min_paths


def _corpus(spark):
    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" if i % 20 else f"alt{i}" for i in range(100))
    other = " ".join(f"zzz{i}" for i in range(100))
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, other)],
        "doc_id long, text string",
    )


def test_near_dup_pairs_finds_planted_pair(spark):
    docs = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    # exact dup pair at jaccard 1.0
    assert pairs.get((0, 1)) == 1.0
    # planted near-dup: 5 of 100 tokens changed → 15 of 98 shingles
    # touched → true Jaccard ≈ (98-15)/(98+15) ≈ 0.73
    assert (0, 2) in pairs and 0.6 <= pairs[(0, 2)] <= 0.85
    assert (1, 2) in pairs
    # the unrelated doc pairs with nothing
    assert not any(3 in p for p in pairs)


def test_keep_one_filter_drops_higher_ids(spark):
    docs = _corpus(spark)
    pairs = near_dup_pairs(docs, threshold=0.5)
    kept = sorted(r["doc_id"] for r in keep_one_filter(docs, pairs).collect())
    # 1 and 2 lose to 0; 3 survives untouched
    assert kept == [0, 3]


def test_exact_dup_groups_counts(spark):
    docs = _corpus(spark)
    groups = {
        r["keep_doc_id"]: r["n_docs"]
        for r in exact_dup_groups(docs, "doc_id", "text").collect()
    }
    assert groups[0] == 2  # docs 0 and 1 identical
    assert groups[2] == 1 and groups[3] == 1


def test_containment_literals_and_empty_convention(spark):
    """Containment is asymmetric (excerpt detection) and empty-A
    yields 0.0 by convention, mirroring the d08 oracle's CASE."""
    from alternating_least_squares_spark.functions.dedup import containment
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a", "b"], ["a", "b", "c", "d"]), ([], ["a"]), (["x"], [])],
        "a array<string>, b array<string>",
    )
    got = [
        (r["ab"], r["ba"])
        for r in df.select(
            F.round(containment(F.col("a"), F.col("b")), 6).alias("ab"),
            F.round(containment(F.col("b"), F.col("a")), 6).alias("ba"),
        ).collect()
    ]
    assert got == [(1.0, 0.5), (0.0, 0.0), (0.0, 0.0)]


def test_normalize_text_groups_planted_variants(spark):
    """t16's normalization chain on PLANTED casing/punctuation
    variants (ADVICE r5: the registry row alone was vacuous at sfs
    with no duplicate docs). Asserts the exact groups AND keepers:
    variants that differ only in case/punct/whitespace collapse to one
    normalized hash; genuinely different text does not."""
    from alternating_least_squares_spark.functions.dedup import (
        normalize_text,
    )

    docs = spark.createDataFrame(
        [
            (0, "Hello, World!  This is FINE."),
            (1, "hello world this is fine"),         # punct/case-stripped twin
            (2, "HELLO---world...this+++is###fine"), # separators → spaces
            (3, "hello world this is fine2"),        # real difference survives
            (4, None),                                # NULL folds to ''
            (5, "!!!"),                               # pure punct folds to ''
        ],
        "doc_id long, text string",
    )
    hashed = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("h")
    )
    groups = {
        r["keeper"]: r["n_docs"]
        for r in hashed.groupBy("h")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .collect()
    }
    assert groups == {0: 3, 3: 1, 4: 2}


def test_t16_registry_row_is_not_vacuous(spark):
    """The driver row must check real groups at ANY sf: the planted
    uppercase variants guarantee ≥50 result rows, each keeping the
    original (lower) doc_id with its variant counted."""
    from alternating_least_squares_spark.registry import queries

    out = queries()["t16_normalized_dupes"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) >= 50
    by_keeper = {r["keeper"]: r["n_docs"] for r in rows}
    # every group's keeper is an original id (< 10M) and counts ≥ 2
    assert all(k < 10_000_000 for k in by_keeper)
    assert all(n >= 2 for n in by_keeper.values())


def test_verify_on_hash_matches_string_pairs(spark):
    """The scale path (Jaccard on xxhash64 shingle longs) must return
    the same jaccard for every pair as Jaccard recomputed on the raw
    shingle strings (``tests/pair_references.string_jaccard``) —
    distinct shingles map to distinct longs, so the set algebra is
    unchanged."""
    # near replaces every 50th token: 2 substitutions kill ≤6 of ~98
    # k=3 shingles, so shingle-level J ≈ 0.89 — deep in the S-curve's
    # near-certain zone (P[no band] ≈ 1e-4), and xxhash64 is
    # deterministic so the collide outcome for THIS fixture is a
    # constant (the old % 7 fixture had shingle-J ≈ 0.4 and only
    # produced candidates under the pre-r13 degenerate rank-1
    # banding).
    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" if i % 50 else f"alt{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, "one two three")],
        "doc_id long, text string",
    )
    from tests.pair_references import string_jaccard

    pairs = near_dup_pairs(docs, threshold=0.0)
    got_h = sorted(map(tuple, pairs.collect()))
    got_s = sorted(map(tuple, string_jaccard(docs, pairs).collect()))
    assert got_h == got_s and len(got_h) >= 3


def _incr_corpus_batch(spark):
    from alternating_least_squares_spark.functions.dedup import (
        incremental_near_dup_admission,
    )

    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" if i % 20 else f"alt{i}" for i in range(100))
    corpus = spark.createDataFrame(
        [(10, base), (11, base), (12, "mud pie recipe collection")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (0, base),                       # exact dup of corpus → reject
            (1, near),                       # J≈0.73 near-dup → reject
            (2, " ".join(f"new{i}" for i in range(50))),  # fresh → admit
        ],
        "doc_id long, text string",
    )
    return corpus, batch, incremental_near_dup_admission


def test_incremental_admission_rejects_corpus_near_dups(spark):
    corpus, batch, admit = _incr_corpus_batch(spark)
    got = sorted(r["doc_id"] for r in admit(corpus, batch).collect())
    assert got == [2]


def test_incremental_admission_never_pairs_corpus(spark):
    """The corpus-internal dup pair (10, 11) must generate ZERO
    candidates when the batch is unrelated — corpus×corpus pairing is
    structurally impossible (one batch→corpus band join; exactly one
    Join in the optimized candidate plan)."""
    from alternating_least_squares_spark.functions.dedup import (
        batch_corpus_candidates,
        lsh_signatures,
    )

    corpus, _, _ = _incr_corpus_batch(spark)
    batch = spark.createDataFrame(
        [(0, " ".join(f"other{i}" for i in range(50)))],
        "doc_id long, text string",
    )
    cand = batch_corpus_candidates(
        lsh_signatures(batch, "doc_id", "text"),
        lsh_signatures(corpus, "doc_id", "text"),
    )
    assert cand.collect() == []
    plan = cand._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1 and "Cartesian" not in plan


def test_hot_bucket_cap_drops_degenerate_bucket_keeps_true_dups(spark):
    """Skew guard: 6 boilerplate-only docs (identical text → every
    band bucket holds all 6) vanish from candidate generation under a
    cap of 4, while a planted true near-dup pair among normal docs
    survives. Uncapped, the boilerplate pairs come back."""
    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" if i % 20 else f"alt{i}" for i in range(100))
    boiler = "copyright notice all rights reserved " * 10
    rows = [(0, base), (1, near)] + [(10 + i, boiler) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(
            docs, threshold=0.5, max_bucket_size=4
        ).collect()
    }
    assert capped == {(0, 1)}

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in uncapped and (10, 11) in uncapped


def test_hot_bucket_cap_rejects_degenerate_value(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="max_bucket_size"):
        near_dup_pairs(docs, max_bucket_size=1).collect()


def test_incremental_admission_corpus_bucket_cap(spark):
    """With every corpus bucket hot (identical corpus docs) and the
    cap below corpus size, candidates vanish and the whole batch is
    admitted — the documented recall trade, loudly visible."""
    from alternating_least_squares_spark.functions.dedup import (
        incremental_near_dup_admission,
    )

    boiler = "copyright notice all rights reserved " * 10
    corpus = spark.createDataFrame(
        [(10 + i, boiler) for i in range(6)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(0, boiler)], "doc_id long, text string"
    )
    admitted = lambda **kw: sorted(
        r["doc_id"]
        for r in incremental_near_dup_admission(
            corpus, batch, **kw
        ).collect()
    )
    assert admitted() == []                       # uncapped: rejected
    assert admitted(max_bucket_size=4) == [0]     # capped: bucket dropped


def test_indexed_admission_matches_inmemory_and_moves_no_corpus(spark, tmp_path):
    """The persisted-band-index path (write_band_index /
    admit_with_band_index) must (a) admit exactly the same set as
    incremental_near_dup_admission, and (b) never shuffle the corpus:
    both bucketed scans join via BroadcastHashJoin (batch side
    broadcast), no SortMergeJoin anywhere in the rejected-set plan."""
    from alternating_least_squares_spark.functions.dedup import (
        admit_with_band_index,
        incremental_near_dup_admission,
        write_band_index,
    )

    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" if i % 20 else f"alt{i}" for i in range(100))
    newdoc = " ".join(f"new{i}" for i in range(80))
    corpus = spark.createDataFrame(
        [(10, base), (12, "mud pie recipe collection")],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [(0, base), (1, near), (2, newdoc)], "doc_id long, text string"
    )
    name = "t_dedup_idx"
    write_band_index(corpus, name, str(tmp_path / "idx"))

    got = admit_with_band_index(spark, name, batch1)
    want = incremental_near_dup_admission(corpus, batch1)
    ids = lambda df: sorted(r["doc_id"] for r in df.collect())
    assert ids(got) == ids(want) == [2]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    # both corpus scans read bucketed (AQE's plan string repeats the
    # scans in its initial-plan section, hence >=)
    assert plan.count("Bucketed: true") >= 2


def test_d12_matches_brute_force_at_sf0001(spark):
    """d12 recall property (VERDICT r12 #6): the pipeline's output at
    sf0.001 must equal an all-pairs exact token-set Jaccard ≥ 0.8
    brute force over the SAME constructed corpus — recall 1.0 (every
    planted J=0.875 twin survives banding) AND precision 1.0 (every
    J=0.5 variant and J=0 noise pair is rejected), at a real sub-1.0
    threshold."""
    from itertools import combinations

    from alternating_least_squares_spark.registry import (
        q_d12_threshold_near_dup,
    )
    from tests.conftest import SF_SMALL

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in q_d12_threshold_near_dup(spark, SF_SMALL).collect()
    }

    # rebuild the construction in Python and brute-force it
    from alternating_least_squares_spark.sources import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id")
        .collect()
    ]
    toks = {}
    for i in ids:
        if i % 10:
            toks[i] = {f"zq{i}{s}" for s in "abcde"}
        else:
            fam = {f"fam{i}t{j}" for j in range(28)}
            toks[i] = fam | {f"uqa{i}x", f"uqa{i}y"}
            toks[i + 20_000_000] = fam | {f"uqb{i}x", f"uqb{i}y"}
            toks[i + 40_000_000] = {f"fam{i}t{j}" for j in range(20)} | {
                f"uqc{i}w{j}" for j in range(10)
            }
    want = {}
    for x, y in combinations(sorted(toks), 2):
        j = len(toks[x] & toks[y]) / len(toks[x] | toks[y])
        if j >= 0.8:
            want[(x, y)] = round(j, 6)
    assert got == want and len(got) == sum(1 for i in ids if i % 10 == 0)


def test_d12_sub_threshold_pairs_are_candidates_but_rejected(spark):
    """The C variant must be REJECTED BY THE VERIFY STAGE, not by
    never becoming a candidate: at threshold 0 the same corpus emits
    the (A,C)/(B,C) pairs with their exact J=0.5 — proof the banded
    join surfaced them and the ≥0.8 predicate is what filters them
    in d12 proper."""
    fam = " ".join(f"fam9t{j}" for j in range(28))
    fam20 = " ".join(f"fam9t{j}" for j in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{fam} uqa9x uqa9y"),
            (2, f"{fam} uqb9x uqb9y"),
            (3, f"{fam20} " + " ".join(f"uqc9w{j}" for j in range(10))),
        ],
        "doc_id long, text string",
    )
    lo = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in near_dup_pairs(
            docs, n_hashes=32, bands=16, k=1, threshold=0.0
        ).collect()
    }
    assert lo == {(1, 2): 0.875, (1, 3): 0.5, (2, 3): 0.5}
    hi = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in near_dup_pairs(
            docs, n_hashes=32, bands=16, k=1, threshold=0.8
        ).collect()
    }
    assert hi == {(1, 2): 0.875}


def test_minhash_slots_are_independent_not_rank_one(spark):
    """Regression for the r13 permutation-family bug: with a monotone
    per-permutation map, ALL signature slots of a pair agree or
    disagree together (the signature is rank-1 and banding amplifies
    nothing). For a partial-overlap pair the slot-match count must be
    strictly interior — and across several fixture pairs the mean
    match fraction must approximate the true Jaccard (each slot is a
    Bernoulli(J) draw under proper min-wise hashing). xxhash64 is
    deterministic, so these counts are constants, not a flaky
    sample. The signature is the expression reference, which the
    production Arrow pass matches bit for bit
    (test_r19_optimizations)."""
    from tests.pair_references import minhash_signature

    n_hashes = 32
    pairs = []
    for f in range(10):
        shared = [f"sh{f}w{i}" for i in range(20)]
        a = shared + [f"ua{f}w{i}" for i in range(10)]  # J = 20/40 = 0.5
        b = shared + [f"ub{f}w{i}" for i in range(10)]
        pairs.append((a, b))
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(
        rows, "pair_id long, a array<string>, b array<string>"
    )
    sigs = df.select(
        "pair_id",
        minhash_signature(F.col("a"), n_hashes).alias("sa"),
        minhash_signature(F.col("b"), n_hashes).alias("sb"),
    ).collect()
    fracs = []
    for r in sigs:
        matches = sum(x == y for x, y in zip(r["sa"], r["sb"]))
        # rank-1 signatures can only produce 0 or 32 here
        assert 0 < matches < n_hashes, (r["pair_id"], matches)
        fracs.append(matches / n_hashes)
    mean = sum(fracs) / len(fracs)
    assert 0.35 <= mean <= 0.65, fracs  # true J = 0.5


from hypothesis import given, settings, strategies as st


def _py_simhash64(text: str) -> tuple[int, int]:
    """Sequential replay of simhash64_table's layout: half w packs
    the w-th 32-bit word of each token's md5, bit g = majority of
    word-bit (31-g) over tokens."""
    import hashlib

    toks = text.split()
    words = [
        (int(h[:8], 16), int(h[8:16], 16))
        for h in (hashlib.md5(t.encode()).hexdigest() for t in toks)
    ]
    out = []
    for w in (0, 1):
        v = 0
        for g in range(32):
            ones = sum((word[w] >> (31 - g)) & 1 for word in words)
            v = v * 2 + (1 if 2 * ones > len(words) else 0)
        out.append(v)
    return tuple(out)


@settings(max_examples=8, deadline=None)
@given(
    picks=st.lists(
        st.sets(st.integers(min_value=0, max_value=11), min_size=1,
                max_size=12),
        min_size=2,
        max_size=10,
    ),
    k=st.integers(min_value=0, max_value=3),
)
def test_simhash_near_dup_matches_brute_force(spark, picks, k):
    """d13 property: on any corpus drawn from a tiny token universe
    (so near pairs occur at every distance) the banded pipeline must
    equal the all-pairs Python brute force EXACTLY — recall 1 by
    pigeonhole (<=3 differing bits leave >=1 of 4 bands identical)
    and precision 1 by the popcount verify, at any k in [0, 3]."""
    from alternating_least_squares_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    texts = [" ".join(f"tok{j}" for j in sorted(s)) for s in picks]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, k=k).collect()
    }
    sh = [_py_simhash64(t) for t in texts]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            d = bin(sh[a][0] ^ sh[b][0]).count("1") + bin(
                sh[a][1] ^ sh[b][1]
            ).count("1")
            if d <= k:
                want[(a, b)] = d
    assert got == want


def test_simhash_near_dup_validates_k(spark):
    """k beyond the pigeonhole guarantee of the 4-band layout must be
    rejected loudly — silently accepting k=4 would ship recall < 1
    with no signal."""
    import pytest

    from alternating_least_squares_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(docs, k=4)


def test_simhash_near_dup_exposes_checkpoint_ownership(spark):
    """ADVICE r13: the signature-table checkpoint cannot be released
    inside simhash_near_dup_pairs (the returned plan still reads it),
    so the function must hand the block ids to the caller via
    ``owned_out`` — releasing them after the result is consumed must
    actually free the pinned blocks."""
    from alternating_least_squares_spark.checkpoint import (
        release_local_checkpoint,
    )
    from alternating_least_squares_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2}") for i in range(8)],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc
    owned: list[int] = []
    out = simhash_near_dup_pairs(docs, owned_out=owned)
    out.collect()
    assert len(owned) == 1  # exactly the signature checkpoint
    # assert on the OWNED id, not on absolute counts — the shared
    # session's ContextCleaner may release unrelated RDDs mid-test
    assert jsc.getPersistentRDDs().containsKey(owned[0])
    release_local_checkpoint(out, set(owned))
    assert not jsc.getPersistentRDDs().containsKey(owned[0])


def test_q_d13_rotates_signature_checkpoint_across_calls(spark):
    """ADVICE r13: repeated q_d13 calls in one session must pin at
    most ONE live signature checkpoint — each call releases the
    previous invocation's blocks (the harness evaluates each result
    before requesting the next)."""
    from alternating_least_squares_spark import registry

    jsc = spark.sparkContext._jsc
    sf = "/root/testdata/sf0.001"
    before = len(jsc.getPersistentRDDs())
    first = registry.q_d13_simhash_near_dup(spark, sf)
    n1 = first.count()
    assert len(jsc.getPersistentRDDs()) - before <= 1
    second = registry.q_d13_simhash_near_dup(spark, sf)
    assert second.count() == n1
    # the second call released the first call's generation
    assert len(jsc.getPersistentRDDs()) - before <= 1
    # leave the module state clean for other tests in this session
    from alternating_least_squares_spark.checkpoint import (
        release_local_checkpoint,
    )

    app = spark.sparkContext.applicationId
    release_local_checkpoint(
        second, registry._D13_SIG_OWNED.pop(app, None)
    )


def test_dedup_components_releases_checkpoints_on_raise(spark, monkeypatch):
    """ADVICE r13: the non-convergence RuntimeError must not leak the
    loop's pinned checkpoint generations to callers that catch it."""
    import pytest

    from alternating_least_squares_spark.functions.dedup import (
        dedup_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    jsc = spark.sparkContext._jsc
    for path in hash_min_paths(monkeypatch):
        before = len(jsc.getPersistentRDDs())
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(chain, max_iterations=2)
        # <= 0, not == 0: the shared session's ContextCleaner may
        # release unrelated RDDs mid-test, so the delta can go negative
        assert len(jsc.getPersistentRDDs()) - before <= 0, path


def _chain_components_jobs(spark, group):
    """Collect dedup_components over a 5-chain in job group ``group``
    and return the number of Spark jobs it ran."""
    from alternating_least_squares_spark.functions.dedup import (
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = {
            r["id"]: r["component"]
            for r in dedup_components(pairs).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {v: 1 for v in range(1, 6)}
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_components_runs_no_count_jobs(spark):
    """Below ``MAX_DRIVER_EDGES`` dedup_components runs its rounds on
    the driver: the edge checkpoint, its one Arrow collect and the
    caller's collect, whatever the number of rounds (5 + 5 per round
    = 30 when every round ran as Spark jobs)."""
    assert _chain_components_jobs(spark, "dedup_components_driver") == 3


def test_dedup_components_distributed_runs_no_count_jobs(spark, monkeypatch):
    """The distributed loop's changed count rides each round's
    checkpoint as an ``observe`` metric, so no round starts a count()
    job. The 5-chain needs 4 rounds to carry the minimum to its end
    plus the round that changes nothing. Its jobs are 5 outside the
    loop (the edge and seed checkpoints and the collect) plus 5 per
    round, all of them materializing the rotated checkpoint (its
    shuffle stages run as jobs of their own under adaptive execution).
    A changed-count join with count() each round would add 5 more per
    round: 55 in all."""
    from alternating_least_squares_spark.operators import graph

    monkeypatch.setattr(graph, "MAX_DRIVER_EDGES", 0)
    jobs = _chain_components_jobs(spark, "dedup_components_distributed")
    assert jobs == 5 + 5 * 5


def test_d11_job_count(spark):
    """d11 at SF_SMALL runs its hash-min rounds on the driver, so its
    jobs no longer grow with the rounds: 11 (25 when every round ran
    as Spark jobs)."""
    from alternating_least_squares_spark.registry import (
        q_d11_neardup_keep_one,
    )
    from tests.conftest import SF_SMALL

    sc = spark.sparkContext
    group = "test_d11_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = q_d11_neardup_keep_one(spark, SF_SMALL).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 11


def test_d15_collapse_matches_brute_force_at_sf0001(spark):
    """d15 collapse property (the d12 recall proof extended to the
    composition): at sf0.001 the pipeline's component census must
    equal brute-force exact-Jaccard >= 0.8 pairs + transitive closure
    over the SAME constructed corpus — in particular every {A, B, D}
    family merges even though the A–D pair itself is below threshold
    (J=26/36), so the merge exists only through hash-min
    transitivity."""
    from itertools import combinations

    from alternating_least_squares_spark.registry import (
        q_d15_threshold_collapse,
    )
    from alternating_least_squares_spark.sources import load_table
    from tests.conftest import SF_SMALL

    got = {
        (r["doc_id"], r["n_merged"])
        for r in q_d15_threshold_collapse(spark, SF_SMALL).collect()
    }

    ids = [
        r["doc_id"]
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id")
        .collect()
    ]
    toks = {}
    for i in ids:
        if i % 10:
            toks[i] = {f"zq{i}{s}" for s in "abcde"}
        else:
            fam = {f"fam{i}t{j}" for j in range(28)}
            toks[i] = fam | {f"uqa{i}x", f"uqa{i}y"}
            toks[i + 20_000_000] = fam | {f"uqb{i}x", f"uqb{i}y"}
            toks[i + 40_000_000] = {f"fam{i}t{j}" for j in range(20)} | {
                f"uqc{i}w{j}" for j in range(10)
            }
            toks[i + 60_000_000] = (
                {f"fam{i}t{j}" for j in range(26)}
                | {f"uqb{i}x", f"uqb{i}y"}
                | {f"uqd{i}w{j}" for j in range(4)}
            )
    # brute-force pairs, then union-find transitive closure
    parent = {i: i for i in toks}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    planted_ad_below = 0
    for x, y in combinations(sorted(toks), 2):
        j = len(toks[x] & toks[y]) / len(toks[x] | toks[y])
        if j >= 0.8:
            parent[find(y)] = find(x)
        elif y == x + 60_000_000 and x % 10 == 0:
            planted_ad_below += 1
    # the construction premise itself: every direct A-D pair is below
    # threshold, so families can only merge transitively through B
    assert planted_ad_below == sum(1 for i in ids if i % 10 == 0)

    from collections import Counter

    sizes = Counter(find(x) for x in toks)
    want = {(rep, n) for rep, n in sizes.items()}
    assert got == want
    # and the family census is exactly what SQL_D15 states
    fams = sum(1 for i in ids if i % 10 == 0)
    assert sum(1 for _, n in got if n == 3) == fams
    assert len(got) == len(ids) + fams  # families + C + noise rows
