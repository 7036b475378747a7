"""Tests for the scale-path operators: dedup (MinHash/SimHash), similarity
search (brute-force + LSH), streaming pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F


def _near_dup_docs(spark):
    """12 docs: 0/1 near-dups, 2/3 near-dups, rest distinct word-soup."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    rows = [
        (0, base),
        # one token APPENDED: shingle jaccard 18/19 ≈ 0.95 — high enough
        # that 8x4 LSH banding finds the pair for any decent hash family
        # (a mid-token edit gives j≈0.71 with an ~8% inherent miss rate)
        (1, base + " tangent"),
        (2, "uniform victor whiskey xray yankee zulu one two three four five six"),
        (3, "uniform victor whiskey xray yankee zulu one two three four five seven"),
    ]
    for i in range(4, 12):
        rows.append((i, " ".join(f"w{i}t{j}" for j in range(20))))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_matches_exact_jaccard(spark):
    from htep_spark.operators.dedup import minhash_dedup_pairs

    docs = _near_dup_docs(spark)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (0, 1) in pairs
    assert (2, 3) in pairs
    # distinct docs share no shingles → never candidates
    assert all(a in (0, 2) for a, _ in pairs)
    # estimate is in the right neighborhood of the true jaccard (~0.95/0.82)
    assert 0.5 <= pairs[(0, 1)] <= 1.0


def test_simhash_near_dups(spark):
    from htep_spark.operators.dedup import simhash_udf

    docs = _near_dup_docs(spark)
    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash_udf("text").alias("s")).collect()}
    assert sigs[0] != 0 and isinstance(sigs[0], int)
    # determinism
    sigs2 = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash_udf("text").alias("s")).collect()}
    assert sigs == sigs2


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """Skew guard: a corpus dominated by identical docs must not trigger the
    O(bucket²) band self-join. With the cap, candidate pairs stay O(n) (star
    to the bucket representative) and the keeper verdict is identical to
    exact dedup: one keeper, everything else dropped."""
    import time

    from htep_spark.operators.dedup import (
        connected_components,
        minhash_signatures,
        lsh_candidate_pairs,
    )

    n = 5000
    text = "duplicate boilerplate page body " * 8
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    ).union(
        spark.createDataFrame(
            [(n, "a completely different unique document about spark")],
            ["doc_id", "text"],
        )
    )
    t0 = time.monotonic()
    sig = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, max_bucket_size=100).filter(
        F.col("est_jaccard") >= 0.6
    )
    n_pairs = pairs.count()
    elapsed = time.monotonic() - t0
    # star pairs: one per non-representative duplicate, not n*(n-1)/2
    assert n_pairs == n - 1, n_pairs
    assert elapsed < 120, f"capped LSH took {elapsed:.1f}s"
    comps = connected_components(pairs)
    keepers = {
        r["doc_id"]
        for r in comps.filter(F.col("cluster_id") == F.col("doc_id")).collect()
    }
    assert keepers == {0}  # one keeper for the duplicate cluster


def test_minhash_base_hash_modes_agree(spark):
    """Production (xxhash64) vs oracle (md5) base hash must yield identical
    candidate pairs and keeper verdicts on the driver corpus — the bridge
    that lets bench run the fast path while the driver hash-checks the md5
    mode (VERDICT r02 #5)."""
    from htep_spark.operators.dedup import (
        MINHASH_QUERY_THRESHOLD,
        dedup_keepers,
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    by_mode = {}
    for mode in ("md5", "xxhash64"):
        by_mode[mode] = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_dedup_pairs(
                docs, "doc_id", "text",
                threshold=MINHASH_QUERY_THRESHOLD, base_hash=mode,
            ).collect()
        }
    assert by_mode["md5"] == by_mode["xxhash64"]
    keepers = {}
    for mode in ("md5", "xxhash64"):
        keepers[mode] = {
            (r["doc_id"], r["cluster_id"], r["keep"])
            for r in dedup_keepers(
                docs, "doc_id", "text",
                threshold=MINHASH_QUERY_THRESHOLD, base_hash=mode,
            ).collect()
        }
    assert keepers["md5"] == keepers["xxhash64"]


def test_minhash_bucket_cap_modeled_in_oracle(spark):
    """The DuckDB CTE chain must reproduce the *capped* Spark plan: force a
    tiny cap over a degenerate corpus (one oversized identical-doc bucket)
    and assert pair-set equality between engines (ADVICE r02 #1)."""
    import duckdb
    import pandas as pd

    from htep_spark.operators.dedup import (
        MINHASH_QUERY_THRESHOLD,
        _minhash_pairs_ctes,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "identical boilerplate body repeated for every page here") for i in range(8)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog today"),
        (102, "completely unrelated text about spark physical planning"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(docs, "doc_id", "text", base_hash="md5")
    spark_pairs = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in lsh_candidate_pairs(sig, max_bucket_size=3)
        .filter(F.col("est_jaccard") >= MINHASH_QUERY_THRESHOLD)
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = f"WITH {_minhash_pairs_ctes(max_bucket_size=3)}\nSELECT doc_a, doc_b, est_jaccard FROM mpairs"
    duck_pairs = {
        (int(a), int(b), float(e)) for a, b, e in con.execute(sql).fetchall()
    }
    # oversized bucket (8 identical docs > cap 3) → star pairs only
    star = {(a, b) for a, b, _ in spark_pairs if a == 0}
    assert star == {(0, i) for i in range(1, 8)}
    assert all((i, j) not in {(a, b) for a, b, _ in spark_pairs}
               for i in range(1, 8) for j in range(i + 1, 8))
    assert spark_pairs == duck_pairs


def test_lsh_bucket_cap_noop_on_normal_corpus(spark):
    """Below the cap the candidate set is identical to the uncapped join."""
    from htep_spark.operators.dedup import minhash_dedup_pairs

    docs = _near_dup_docs(spark)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert capped == {(0, 1), (2, 3)}


def test_hyperplane_sign_margin():
    """Cross-engine safety of the quantized sign: every (vector, plane) dot
    product on the driver corpora must clear the round-to-6dp decision
    boundary (0.5e-6) by far more than any float summation-order error
    (~1e-12), so Spark/BLAS/DuckDB can never disagree on a bit."""
    import numpy as np
    import pyarrow.parquet as pq

    from htep_spark.operators.similarity import _DIM_DEFAULT, _planes

    planes = _planes(_DIM_DEFAULT)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        tbl = pq.read_table(f"/root/testdata/{sf}/embeddings.parquet")
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
        )
        dots = mat @ planes.T
        margin = np.abs(np.abs(dots) - 0.5e-6).min()
        assert margin > 1e-9, f"{sf}: sign margin {margin} too small"


def test_ann_lsh_agrees_with_bruteforce_on_top1(spark):
    from htep_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = ann_lsh_topk(emb, queries, k=3)
    rows = approx.collect()
    assert rows, "LSH produced no candidates"
    # every LSH hit must carry the exact cosine score ordering per query
    for q in {r["query_id"] for r in rows}:
        ranked = sorted(
            (r for r in rows if r["query_id"] == q), key=lambda r: r["rank"]
        )
        scores = [r["cosine"] for r in ranked]
        assert scores == sorted(scores, reverse=True)
    assert len(exact) == 12  # 4 queries x 3


def test_streaming_extraction(spark, tmp_path):
    from htep_spark.schema import TRANSCRIPT_SCHEMA
    from htep_spark.sources.io import synthesize_transcripts_pdf
    from htep_spark.streaming.stream import stream_extraction

    pdf = synthesize_transcripts_pdf(40, n_convs=4)
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).write.parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    )
    out = stream_extraction(stream)
    assert out.isStreaming
    query = (
        out.writeStream.format("memory")
        .queryName("extraction_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql("select count(*) n from extraction_stream").collect()[0]["n"]
    assert rows == 40
    sample = spark.sql(
        "select result.document_type dt from extraction_stream limit 5"
    ).collect()
    assert all(r["dt"] is not None for r in sample)


def test_streaming_dedup_turns(spark, tmp_path):
    """dropDuplicatesWithinWatermark ingestion guard: replayed
    (conv_id, turn_idx) rows collapse to one, state bounded by watermark."""
    import pandas as pd

    from htep_spark.schema import TRANSCRIPT_SCHEMA
    from htep_spark.sources.io import synthesize_transcripts_pdf
    from htep_spark.streaming.stream import stream_dedup_turns

    pdf = synthesize_transcripts_pdf(30, n_convs=3)
    replayed = pd.concat([pdf, pdf.head(12)], ignore_index=True)  # duplicates
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(replayed, TRANSCRIPT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    out = stream_dedup_turns(stream)
    assert out.isStreaming
    query = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = spark.sql(
        "select count(*) n, count(distinct conv_id || '#' || turn_idx) d"
        " from dedup_stream"
    ).collect()[0]
    assert got["n"] == 30 and got["d"] == 30


def test_stateful_conversation_stream(spark, tmp_path):
    from htep_spark.schema import TRANSCRIPT_SCHEMA
    from htep_spark.sources.io import synthesize_transcripts_pdf
    from htep_spark.streaming.stream import stream_conversation_state

    pdf = synthesize_transcripts_pdf(60, n_convs=5)
    src = str(tmp_path / "state_src")
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    out = stream_conversation_state(stream)
    assert out.isStreaming
    query = (
        out.writeStream.format("memory")
        .queryName("conv_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    rows = {
        r["conv_id"]: r
        for r in spark.sql(
            "select * from (select *, row_number() over "
            "(partition by conv_id order by n_turns desc) rn from conv_state) "
            "where rn = 1"
        ).collect()
    }
    expected = pdf.groupby("conv_id").size().to_dict()
    for conv_id, n in expected.items():
        assert rows[conv_id]["n_turns"] == n
        assert rows[conv_id]["max_turn"] == n - 1
        assert rows[conv_id]["contiguous"] is True


def test_dedup_keepers_connected_components(spark):
    from htep_spark.operators.dedup import connected_components, dedup_keepers

    # chain component {1,2,3} (1-2, 2-3), pair {7,9}, singletons elsewhere
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    comps = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = _near_dup_docs(spark)
    verdicts = {
        r["doc_id"]: r
        for r in dedup_keepers(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert len(verdicts) == 12
    assert verdicts[0]["keep"] and not verdicts[1]["keep"]
    assert verdicts[1]["cluster_id"] == 0
    assert verdicts[2]["keep"] and not verdicts[3]["keep"]
    assert all(verdicts[i]["keep"] for i in range(4, 12))  # singletons kept


def test_winnow_fingerprints(spark):
    from htep_spark.operators.text_analysis import winnow_udf

    docs = _near_dup_docs(spark)
    fps = {
        r["doc_id"]: set(r["f"])
        for r in docs.select("doc_id", winnow_udf("text").alias("f")).collect()
    }
    # deterministic, non-empty, and near-dups share most fingerprints
    assert all(fps[i] for i in fps)
    overlap01 = len(fps[0] & fps[1]) / len(fps[0] | fps[1])
    overlap04 = len(fps[0] & fps[4]) / len(fps[0] | fps[4])
    assert overlap01 > 0.5
    assert overlap04 < 0.1
    # whitespace-normalization invariance
    rows = spark.createDataFrame(
        [(0, "alpha  bravo\ncharlie"), (1, "alpha bravo charlie")], ["i", "t"]
    ).select(winnow_udf("t").alias("f")).collect()
    assert rows[0]["f"] == rows[1]["f"]


def test_winnow_non_ascii_parity(spark):
    """The UDF hashes bytes, the oracle hashes codepoints — parity on
    non-ASCII input is ENFORCED by stripping to ASCII on both sides
    (ADVICE r02): accented text must produce identical fingerprints in
    both engines, equal to the stripped-ASCII text's fingerprints."""
    import duckdb
    import pandas as pd

    from htep_spark.operators.text_analysis import _winnow_ctes, winnow_udf

    rows = [
        (0, "le café du coin est très agréable en été vraiment superbe"),
        (1, "le caf du coin est trs agrable en t vraiment superbe"),
        (2, "plain ascii text with no accents at all in this sentence"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spark_fps = {
        r["doc_id"]: list(r["f"])
        for r in docs.select("doc_id", winnow_udf("text").alias("f")).collect()
    }
    # accented row 0 ≡ its ASCII-stripped twin row 1
    assert spark_fps[0] == spark_fps[1] and spark_fps[0]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    duck = {
        int(d): sorted(int(x) for x in f)
        for d, f in con.execute(
            f"WITH {_winnow_ctes()} SELECT doc_id, fps FROM fp"
        ).fetchall()
    }
    assert duck == {k: sorted(v) for k, v in spark_fps.items()}


def test_streaming_windowed_metrics(spark, tmp_path):
    from htep_spark.schema import TRANSCRIPT_SCHEMA
    from htep_spark.sources.io import synthesize_transcripts_pdf
    from htep_spark.streaming.stream import stream_windowed_metrics

    pdf = synthesize_transcripts_pdf(48, n_convs=4)
    src = str(tmp_path / "win_src")
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    out = stream_windowed_metrics(stream, window_duration="10 minutes",
                                  watermark="5 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql(
        "select sum(n_turns) t, count(*) w from win_metrics"
    ).collect()[0]
    # append mode emits only watermark-closed windows; every window but the
    # per-conversation last can close → at least the bulk of turns appear
    assert rows["w"] >= 1
    assert rows["t"] > 0


def test_winnow_overlap_pairs(spark):
    from htep_spark.operators.text_analysis import winnow_overlap_pairs

    docs = _near_dup_docs(spark)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in winnow_overlap_pairs(docs, "doc_id", "text", min_common=3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5
    assert (2, 3) in pairs
    assert all(a in (0, 2) for a, _ in pairs)  # no spurious pairs


def test_difflib_match_query_nonvacuous(spark):
    """The difflib_match oracle query must exercise every branch of the
    T4 close-match layer on the fixed corpus: the corrupted-term prelude
    rows are guaranteed matches by construction (1-char substitution of a
    len>=7 term → ratio >= 6/7 = 0.857; deletion → >= 12/13 = 0.923, both
    above the 0.84 cutoff), genuinely fuzzy (<1.0) ratios appear, and the
    below-cutoff None branch fires on corpus tokens."""
    from htep_spark.driver_queries import q_difflib_match

    rows = q_difflib_match(spark, "/root/testdata/sf0.001").collect()
    matched = [r for r in rows if r["match_term"] is not None]
    assert matched, "no close matches at all"
    assert any(r["ratio"] < 1.0 for r in matched), "no fuzzy (<1.0) ratios"
    assert any(r["match_term"] is None for r in rows), "None branch never hit"
    prelude_missed = [
        r for r in rows if r["word_idx"] in (0, 1) and r["match_term"] is None
    ]
    assert not prelude_missed, prelude_missed[:3]


def test_fuzzy_ratio_query_nonvacuous(spark):
    """The fuzzy_ratio oracle query must actually exercise every branch of
    extract_one on the fixed corpus: the corrupted-term prelude rows
    (word_idx 0/1) are GUARANTEED matches by construction (1-char
    substitution of len>=7 → ratio >= 85.71; 1-char deletion → >= 92.3,
    both above the 85 cutoff), genuinely fuzzy scores (<100) must appear,
    and corpus tokens must also hit the below-cutoff None branch — a green
    hash over all-null matches would prove nothing."""
    from htep_spark.driver_queries import q_fuzzy_ratio

    rows = q_fuzzy_ratio(spark, "/root/testdata/sf0.001").collect()
    matched = [r for r in rows if r["match_term"] is not None]
    assert matched, "no fuzzy matches at all"
    assert any(r["ratio"] < 100 for r in matched), "no fuzzy (<100) scores"
    assert any(r["match_term"] is None for r in rows), "None branch never hit"
    prelude_missed = [
        r for r in rows if r["word_idx"] in (0, 1) and r["match_term"] is None
    ]
    assert not prelude_missed, prelude_missed[:3]


def test_lm_heldout_matches_pure_python(spark):
    """CCNet-proper held-out perplexity (Wenzek et al. 2020): the md5
    train/score split, add-k bigram LM trained ONLY on the train half,
    held-out mean log-prob, exact global rank and tercile must all match a
    straightforward pure-Python reimplementation — and the held-out
    smoothing branch (bigram unseen in training) must actually fire, since
    that fallback is exactly what distinguishes this from an in-corpus
    LM."""
    import hashlib
    import math
    import re

    import pandas as pd

    from htep_spark.driver_queries import LM_SMOOTH_K
    from htep_spark.operators.ranking import (
        LM_HELDOUT_MOD,
        LM_HELDOUT_SALT,
        q_lm_heldout,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    tok = re.compile("[a-z0-9]+")

    def bucket(doc_id):
        h = hashlib.md5(f"{LM_HELDOUT_SALT}|{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % LM_HELDOUT_MOD

    uni, big, held = {}, {}, {}
    for r in docs.itertuples():
        ws = tok.findall(r.text.lower())
        if bucket(r.doc_id) == 0:
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                big[(a, b)] = big.get((a, b), 0) + 1
        else:
            held[r.doc_id] = ws
    vocab = len(uni)
    assert held and uni, "split must produce both halves"
    unseen = 0
    expect = {}
    for d, ws in held.items():
        pairs = list(zip(ws, ws[1:]))
        unseen += sum(1 for p in pairs if p not in big)
        lps = [
            math.log(
                (big.get(p, 0) + LM_SMOOTH_K)
                / (uni.get(p[0], 0) + LM_SMOOTH_K * vocab)
            )
            for p in pairs
        ]
        expect[d] = (
            round(sum(lps) / len(lps), 6) if lps else None,
            len(lps),
        )
    assert unseen > 0, "held-out smoothing branch never fired (vacuous test)"

    got = {r["doc_id"]: r for r in q_lm_heldout(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for d, (mlp, nb) in expect.items():
        assert got[d]["n_bigrams"] == nb, d
        if mlp is None:
            assert got[d]["mean_logp"] is None, d
        else:  # fold order matches; allow 1-ulp ln() divergence across VMs
            assert abs(got[d]["mean_logp"] - mlp) < 2e-6, (d, got[d], mlp)
    # exact global rank: ascending (mean_logp NULLS FIRST, doc_id)
    order = sorted(
        expect,
        key=lambda d: (
            expect[d][0] is not None,
            expect[d][0] if expect[d][0] is not None else 0.0,
            d,
        ),
    )
    n = len(order)
    for rank, d in enumerate(order, 1):
        assert got[d]["global_rank"] == rank, d
        terc = ("tail", "middle", "head")[math.floor(3 * (rank - 1) / n)]
        assert got[d]["tercile"] == terc, d


def test_bpe_train_matches_pure_python(spark):
    """The distributed BPE loop (superstep pair-count + JVM fold merge)
    must learn exactly the merge table a straightforward pure-Python BPE
    produces — same argmax, same (count desc, pair asc) tie-break, same
    leftmost non-overlapping merge application."""
    from htep_spark.operators.bpe import bpe_train

    corpus = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 4  # overlap case: (a,a) merges leftmost-first
    )

    def py_bpe(words, k):
        seqs = [list(w) for w in words]
        merges = []
        for _ in range(k):
            counts = {}
            for s in seqs:
                for x, y in zip(s, s[1:]):
                    counts[(x, y)] = counts.get((x, y), 0) + 1
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), cnt = best
            merges.append((a, b, cnt))
            out = []
            for s in seqs:
                ns, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(s[i])
                        i += 1
                out.append(ns)
            seqs = out
        return merges

    words = spark.createDataFrame([(w,) for w in corpus], ["word"])
    got = bpe_train(words, "word", k=6)
    want = py_bpe(corpus, 6)
    assert got == want
    # the overlap corpus must produce an (a,a)-style merge somewhere and
    # the learned table must be deterministic across invocations
    assert got == bpe_train(words, "word", k=6)
    assert any(a == b for a, b, _ in got)


def test_bloom_probe_branches(spark):
    """Bloom membership: zero false negatives (every corpus token claims
    present — the structural guarantee), and at the deliberately tight
    m=128 BOTH absent-probe branches fire on the fixed corpus: some
    correct rejections AND some false positives (9/48, pre-verified at
    all three SFs) — a green hash covers the interesting behavior."""
    from htep_spark.driver_queries import q_bloom_probe

    rows = q_bloom_probe(spark, "/root/testdata/sf0.001").collect()
    present = [r for r in rows if r["in_corpus"] == 1]
    absent = [r for r in rows if r["in_corpus"] == 0]
    assert present and absent
    assert all(r["claimed_present"] == 1 for r in present)  # no false negs
    fps = sum(r["false_positive"] for r in absent)
    rejects = sum(1 for r in absent if r["claimed_present"] == 0)
    assert fps > 0 and rejects > 0, (fps, rejects)
    assert fps == 9  # deterministic at m=128 on the fixed corpus


def test_char_entropy_flags_both_tails(spark):
    """The entropy quality signal must discriminate on the fixed corpus:
    both tail flags fire (thresholds sit inside the distribution), the
    unflagged interior dominates, and entropy is within the [0, log2(
    n_distinct_chars)] information-theoretic bound for every doc."""
    import math

    from htep_spark.driver_queries import q_char_entropy

    rows = q_char_entropy(spark, "/root/testdata/sf0.001").collect()
    flags = {r["flag"] for r in rows}
    assert {"low_entropy", "high_entropy", None} <= flags | {None}
    assert "low_entropy" in flags and "high_entropy" in flags
    assert sum(1 for r in rows if r["flag"] is None) > len(rows) * 0.8
    for r in rows:
        assert 0.0 <= r["entropy_bits"] <= math.log2(r["n_distinct_chars"]) + 1e-6
        assert abs(r["unigram_ratio"] - r["entropy_bits"] / 8.0) < 1e-5


def test_curation_funnel_monotone(spark):
    """The composed keep-gate cascade must be a real funnel on the fixed
    corpus: stage counts monotonically non-increasing per source, at least
    two stages strictly discriminate globally, and kept_tokens only counts
    full survivors (0 whenever sampled is 0)."""
    from htep_spark.driver_queries import q_curation_funnel

    rows = q_curation_funnel(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert (
            r["n_docs"]
            >= r["pass_quality"]
            >= r["pass_repetition"]
            >= r["pass_dedup"]
            >= r["sampled"]
            >= 0
        ), r
        if r["sampled"] == 0:
            assert r["kept_tokens"] == 0, r
    tot = {
        k: sum(r[k] for r in rows)
        for k in ("n_docs", "pass_quality", "pass_dedup", "sampled")
    }
    assert tot["pass_quality"] < tot["n_docs"]
    assert tot["pass_dedup"] < tot["pass_quality"]
    assert tot["sampled"] < tot["pass_dedup"]


def test_count_min_bounds(spark):
    """Count-Min guarantee on the fixed corpus: est >= true for EVERY
    token (min over d counters can never undercount), and at the
    deliberately tight width both branches fire — some tokens exact, some
    overcounted by collisions — so the hash covers the sketch's actual
    error behavior."""
    from htep_spark.driver_queries import q_count_min

    rows = q_count_min(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r["est_count"] >= r["true_count"] for r in rows)
    assert all(r["overcount"] == r["est_count"] - r["true_count"] for r in rows)
    assert any(r["overcount"] > 0 for r in rows), "no collisions — vacuous"
    assert any(r["overcount"] == 0 for r in rows), "no exact cells"


def test_approx_distinct_hll_accuracy(spark):
    """The from-scratch HLL must actually estimate: on the corpus (31
    distinct tokens — the linear-counting branch) AND on a synthetic
    50k-cardinality set (the raw-estimator branch, where m=64 gives
    ~1.04/sqrt(64) = 13% standard error). Checks both branches fire and
    the estimate lands within 3 standard errors."""
    from pyspark.sql import functions as F

    from htep_spark.driver_queries import q_approx_distinct
    from htep_spark.functions.hashing import md5_prefix60_spark

    row = q_approx_distinct(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_exact"] > 0
    assert row["rel_error"] < 0.2  # linear-counting regime is tight

    # raw-estimator regime: 50k distinct synthetic tokens through the
    # same register construction (inline, no parquet needed)
    n = 50_000
    toks = spark.range(n).select(
        F.concat(F.lit("syn-"), F.col("id")).alias("token")
    )
    h = md5_prefix60_spark(F.col("token"))
    rest = F.shiftrightunsigned(h, 6)
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(55)).otherwise(55 - bitlen)
    regs = (
        toks.select(F.pmod(h, F.lit(64)).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    rows = regs.collect()
    present = {r["bucket"]: r["reg"] for r in rows}
    s = sum(2.0 ** -present.get(b, 0) for b in range(64))
    est = 0.709 * 64 * 64 / s
    assert est > 2.5 * 64  # raw branch (no small-range correction)
    assert abs(est - n) / n < 3 * 1.04 / (64 ** 0.5), est


def test_mixture_plan_sane(spark):
    """The executable sampling plan must be a valid plan: rates within
    [0, 10000] permyriad, expected_tokens = floor(n_tokens*rate/10000)
    exactly, and the APPLIED plan's aggregate token yield within 10% of
    the budget target (per-source deviation is legitimately high at 25
    docs/source — doc-level Bernoulli noise — so the gate is corpus-level,
    where the binomial SE is ~4.5%)."""
    import math

    from htep_spark.driver_queries import MIXTURE_BUDGET_FRAC, q_mixture_plan

    rows = q_mixture_plan(spark, "/root/testdata/sf0.001").collect()
    assert rows
    total = sum(r["n_tokens"] for r in rows)
    kept = sum(r["kept_tokens"] for r in rows)
    for r in rows:
        assert 0 <= r["rate_permyriad"] <= 10_000, r
        assert r["expected_tokens"] == math.floor(
            r["n_tokens"] * r["rate_permyriad"] / 10_000
        ), r
        assert 0 <= r["kept_tokens"] <= r["n_tokens"], r
    assert abs(kept - MIXTURE_BUDGET_FRAC * total) / total < 0.10, (kept, total)


def test_contamination_both_verdicts(spark):
    """Benchmark contamination: every clinical snippet with >= k tokens
    MUST be flagged (the prelude embeds it verbatim in every ctext), every
    clean item MUST NOT be (they appear nowhere), and the <k-token snippet
    exercises the zero-gram path — so a green hash cannot be one-sided."""
    from htep_spark.driver_queries import (
        CONTAM_CLEAN_ITEMS,
        _contam_items,
        q_contamination,
    )

    rows = {
        r["bench_id"]: r
        for r in q_contamination(spark, "/root/testdata/sf0.001").collect()
    }
    items = dict(_contam_items())
    n_clean = len(CONTAM_CLEAN_ITEMS)
    n_bench = len(items)
    assert set(rows) == set(range(n_bench))
    for bid, r in rows.items():
        clinical = bid < n_bench - n_clean
        if clinical and r["n_grams"] > 0:
            assert r["contaminated"] == 1 and r["n_docs_hit"] > 0, (bid, r)
            assert r["n_grams_hit"] == r["n_grams"], (bid, r)  # verbatim
        if not clinical:
            assert r["contaminated"] == 0 and r["n_grams"] > 0, (bid, r)
    assert any(
        r["contaminated"] == 1 for r in rows.values()
    ) and any(r["contaminated"] == 0 for r in rows.values())


def test_dup_spans_nonvacuous_and_sane(spark):
    """The exact-substring duplication signal (Lee et al. 2022 measure)
    must actually discriminate on the fixed corpus: shared clinical
    preludes guarantee cross-doc duplicate windows, word-soup bodies
    guarantee unique ones — so dup_frac must span both regimes and BOTH
    keep verdicts must occur (a one-sided gate would be green-but-vacuous).
    Also pins the bounds invariants n_dup <= n_windows, frac in [0, 1]."""
    from htep_spark.driver_queries import q_dup_spans

    rows = q_dup_spans(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    assert any(r["n_dup_windows"] > 0 for r in rows), "no duplicate windows"
    assert any(r["dup_frac"] < 0.2 for r in rows), "no mostly-unique docs"
    keeps = {r["keep"] for r in rows}
    assert keeps == {0, 1}, f"keep gate one-sided: {keeps}"
    for r in rows:
        assert 0 <= r["n_dup_windows"] <= r["n_windows"]
        assert 0.0 <= r["dup_frac"] <= 1.0


def test_bpe_encode_matches_pure_python(spark):
    """Tokenizer application: bpe_encode_col must apply a learned merge
    table with exactly the pure-Python leftmost non-overlapping semantics
    (the same apply loop as the trainer differential), including chained
    merges where a later rule consumes an earlier rule's output symbol."""
    from pyspark.sql import functions as F

    from htep_spark.operators.bpe import bpe_encode_col, bpe_train

    corpus = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 4
    )
    words = spark.createDataFrame([(w,) for w in corpus], ["word"])
    merges = bpe_train(words, "word", k=6)

    def py_apply(w):
        s = list(w)
        for a, b, _ in merges:
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            s = ns
        return s

    uniq = sorted(set(corpus))
    uw = spark.createDataFrame([(w,) for w in uniq], ["word"])
    got = {
        r["word"]: list(r["s"])
        for r in uw.select(
            "word", bpe_encode_col(F.col("word"), merges).alias("s")
        ).collect()
    }
    for w in uniq:
        assert got[w] == py_apply(w), (w, got[w], py_apply(w))
    # merges actually compress: at least one word shrinks below char count
    assert any(len(got[w]) < len(w) for w in uniq)


def test_sample_hash_is_stratified_and_deterministic(spark):
    from htep_spark.driver_queries import q_sample_hash

    sf = "/root/testdata/sf0.001"
    rows = q_sample_hash(spark, sf).collect()
    assert rows, "sampler kept nothing"
    rates = {r["rate_permyriad"] for r in rows}
    assert len(rates) >= 2, "only one stratum fired"
    assert all(r["bucket"] < r["rate_permyriad"] for r in rows)
    again = q_sample_hash(spark, sf).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_connected_components_long_chain(spark):
    """A 60-node chain must converge (pointer jumping: O(log n) rounds)."""
    from htep_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["doc_a", "doc_b"]
    )
    comps = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iterations=10).collect()
    }
    assert len(comps) == 60
    assert set(comps.values()) == {0}


def test_asof_join_semantics(spark):
    """asof_join: most recent right row with r.ts <= l.ts per key —
    inclusive ties, null when no prior, tolerance nulls stale matches."""
    from datetime import datetime

    from htep_spark.operators.joins import asof_join

    T = datetime
    left = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0, 0), "L1"),
            (1, T(2024, 1, 1, 12, 0, 0), "L2"),
            (2, T(2024, 1, 1, 9, 0, 0), "L3"),   # before any right row
            (3, T(2024, 1, 1, 10, 0, 0), "L4"),  # exact-tie with right
        ],
        ["user_id", "ts", "lbl"],
    )
    right = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 9, 30, 0), 100),
            (1, T(2024, 1, 1, 11, 0, 0), 101),
            (2, T(2024, 1, 1, 9, 30, 0), 102),
            (3, T(2024, 1, 1, 10, 0, 0), 103),
        ],
        ["user_id", "ts", "rid"],
    )
    out = {r["lbl"]: r for r in asof_join(left, right).collect()}
    assert out["L1"]["rid_r"] == 100
    assert out["L2"]["rid_r"] == 101
    assert out["L3"]["rid_r"] is None and out["L3"]["ts_r"] is None
    assert out["L4"]["rid_r"] == 103  # inclusive tie
    # tolerance: L2's match is 1h old -> kept at 3600s, nulled at 1800s
    tight = {
        r["lbl"]: r
        for r in asof_join(left, right, tolerance_sec=1800).collect()
    }
    assert tight["L1"]["rid_r"] == 100  # 30 min old
    assert tight["L2"]["rid_r"] is None
    assert tight["L4"]["rid_r"] == 103  # 0 s old
    # suffixed-name collision must raise, not silently duplicate (ADVICE r03)
    import pytest

    with pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumnRenamed("lbl", "rid_r"), right)


def test_range_join_semantics(spark):
    """range_join: containment (closed interval) per key via bucket
    expansion — including intervals spanning many buckets and points
    outside any interval."""
    from datetime import datetime

    from htep_spark.operators.joins import range_join

    T = datetime
    points = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 30), "P1"),   # inside I1
            (1, T(2024, 1, 1, 13, 0), "P2"),    # inside multi-bucket I2
            (1, T(2024, 1, 1, 23, 0), "P3"),    # in no interval
            (2, T(2024, 1, 1, 10, 30), "P4"),   # other key, no interval
            (1, T(2024, 1, 1, 10, 0), "P5"),    # exactly at I1 start
            (1, T(2024, 1, 1, 11, 0), "P6"),    # exactly at I1 end
        ],
        ["user_id", "ts", "lbl"],
    )
    intervals = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0), T(2024, 1, 1, 11, 0), "I1"),
            (1, T(2024, 1, 1, 12, 0), T(2024, 1, 1, 18, 0), "I2"),  # 6h span
        ],
        ["user_id", "s", "e", "iv"],
    )
    out = {
        (r["lbl"], r["iv"])
        for r in range_join(
            points, intervals, point_col="ts", start_col="s", end_col="e",
            by=("user_id",), bucket_sec=3600,
        ).collect()
    }
    assert out == {("P1", "I1"), ("P2", "I2"), ("P5", "I1"), ("P6", "I1")}


def test_exact_global_rank_semantics(spark):
    """exact_global_rank equals a driver-side sorted enumeration — exact,
    deterministic, 1-based, with explicit tie-breaks — at any partition
    count, including n_partitions larger than the row count."""
    from htep_spark.operators.ranking import exact_global_rank

    rows = [(i, float((i * 37) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, score double")
    want = {
        rid: rank + 1
        for rank, (rid, _s) in enumerate(
            sorted(rows, key=lambda r: (r[1], r[0]))
        )
    }
    for n_parts in (1, 4, 64, 300):
        got = {
            r["id"]: r["global_rank"]
            for r in exact_global_rank(
                df, "score", tie_cols=("id",), n_partitions=n_parts
            ).collect()
        }
        assert got == want, n_parts
    out = exact_global_rank(df, "score", tie_cols=("id",)).collect()
    assert all(r["global_count"] == 200 for r in out)
