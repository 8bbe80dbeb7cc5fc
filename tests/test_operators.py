"""Edge-case unit tests (FIXTURES.md §5): dedupe vote thresholds, skip
routing, empty-text guards, hash determinism, scorer invariants."""

from __future__ import annotations

import datetime

import pandas as pd
import pyspark.sql.functions as F

from dataflow_opinion_analysis_spark.operators import dedupe, ingest
from dataflow_opinion_analysis_spark.operators.dedupe import _soft_dedupe_group
from dataflow_opinion_analysis_spark.plans.indexer import build_indexer

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
T0 = datetime.datetime(2024, 1, 1)


def _t(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _row(conv, idx, text, role="user", tool=None, minutes=None):
    return (conv, idx, role, text, tool, T0 + datetime.timedelta(minutes=idx if minutes is None else minutes))


# --- soft dedupe vote rule (IndexerPipeline.java:942,957 arithmetic) --------

def _grp(rows):
    pdf = pd.DataFrame(
        rows, columns=["document_hash", "conv_id", "turn_idx", "text_len", "tag_names"]
    )
    return _soft_dedupe_group(pdf)


def test_soft_dedupe_group_of_one_passes_through():
    out = _grp([("h1", "c", 0, 10, ["a", "b"])])
    assert not out.is_dupe.any()


def test_soft_dedupe_two_matching_shortest_wins():
    # group of 2: min_occ = max(round(2/2+eps), 2) = 2 -> shared tags a,b are
    # frequent; both match (2 of 2 tags); shortest text wins
    out = _grp([
        ("long", "c", 0, 100, ["a", "b"]),
        ("short", "c", 1, 50, ["a", "b"]),
    ])
    assert set(out[out.is_dupe].document_hash) == {"long"}
    assert out[out.document_hash == "long"].winner_document_hash.iloc[0] == "short"


def test_soft_dedupe_below_half_tags_no_match():
    # doc with 5 tags, only 2 frequent -> 2/5 < 50% -> no match
    out = _grp([
        ("a", "c", 0, 10, ["x", "y", "p", "q", "r"]),
        ("b", "c", 1, 20, ["x", "y", "s", "t", "u"]),
    ])
    assert not out.is_dupe.any()


def test_soft_dedupe_single_match_not_deduped():
    # only one doc matches the frequency rule -> is_match.sum() < 2 -> no-op
    out = _grp([
        ("a", "c", 0, 10, ["x", "y"]),
        ("b", "c", 1, 20, ["x", "z", "w", "v"]),
        ("d", "c", 2, 30, ["y", "q", "r", "s"]),
    ])
    assert not out.is_dupe.any()


def test_soft_dedupe_tie_break_on_conv_turn():
    out = _grp([
        ("h2", "c2", 0, 50, ["a", "b"]),
        ("h1", "c1", 0, 50, ["a", "b"]),
    ])
    # equal length -> smallest (conv_id, turn_idx) wins
    assert set(out[out.is_dupe].document_hash) == {"h2"}


# --- pipeline edge cases ----------------------------------------------------

def test_skip_indexing_tool_turns(spark):
    t = _t(spark, [
        _row("c1", 0, "great start"),
        _row("c1", 1, "tool output here", role="tool", tool="search"),
    ])
    out = build_indexer(t)
    assert out.webresource.count() == 2
    docs = out.document.select("CollectionItemId").toPandas()
    assert list(docs.CollectionItemId) == ["c1:0"]


def test_empty_text_dropped(spark):
    t = _t(spark, [
        _row("c1", 0, "real text"),
        _row("c1", 1, "   "),
        _row("c1", 2, None),
    ])
    out = build_indexer(t)
    assert out.webresource.count() == 1


def test_exact_dupe_group_of_three(spark):
    t = _t(spark, [
        _row("c1", 0, "identical great text"),
        _row("c2", 0, "identical great text", minutes=5),
        _row("c3", 0, "identical great text", minutes=9),
    ])
    out = build_indexer(t, soft_dedupe_enabled=False)
    assert out.document.count() == 1
    # all three webresources point to the earliest turn's document
    wr = out.webresource.toPandas()
    assert wr.DocumentHash.nunique() == 1
    assert out.document.toPandas().CollectionItemId.iloc[0] == "c1:0"


def test_parent_links_skip_gaps(spark):
    t = _t(spark, [
        _row("c1", 0, "first turn"),
        _row("c1", 2, "third turn, second missing"),
    ])
    ic = ingest.derive_input_content(t)
    rows = {r.turn_idx: r for r in ic.collect()}
    assert rows[0].parent_url is None
    # turn 2's parent (turn 1) is absent -> NULL, not turn 0
    assert rows[2].parent_url is None


def test_out_of_order_turns_stable_output_order(spark):
    rows = [_row("c1", i, f"turn {i} is great") for i in (3, 0, 2, 1)]
    out = build_indexer(_t(spark, rows))
    got = (
        out.webresource.orderBy("CollectionItemId")
        .select("CollectionItemId").toPandas().CollectionItemId.tolist()
    )
    assert got == ["c1:0", "c1:1", "c1:2", "c1:3"]


def test_scorer_determinism_and_valence(spark):
    t = _t(spark, [
        _row("c1", 0, "this is great great fast"),   # pos 3
        _row("c2", 0, "terrible slow failure"),       # neg 2 (fail not failure)
        _row("c3", 0, "great and terrible"),          # tie -> ambiguous
        _row("c4", 0, "nothing scoring here zzz"),    # no hits -> no row
    ])
    s = build_indexer(t).sentiment.select("Text", "DominantValence", "StPositive", "StNegative").toPandas()
    by_text = {r.Text: r for r in s.itertuples()}
    assert by_text["this is great great fast"].DominantValence == 1
    assert by_text["terrible slow failure"].DominantValence == 2
    assert by_text["great and terrible"].DominantValence == 3
    assert "nothing scoring here zzz" not in by_text


def test_single_band_misses_pairs_multiband_finds(spark):
    """OR-amplification is load-bearing for the embedding near-dup DEDUP
    operator: at the injected twins' cosine (~0.983) a single 8-plane
    band's collision probability is well under 1, so the single-band
    variant must silently miss >=1 true pair that the multi-band detector
    finds — and the multi-band detector must find EVERY injected twin
    pair (verified against the ground-truth twin construction)."""
    from dataflow_opinion_analysis_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    multi = similarity.dedup_embedding_cosine(spark, sf).toPandas()
    single = similarity.dedup_embedding_cosine_single_band(spark, sf).toPandas()
    multi_pairs = set(zip(multi.doc_a, multi.doc_b))
    single_pairs = set(zip(single.doc_a, single.doc_b))
    assert single_pairs <= multi_pairs
    assert len(multi_pairs - single_pairs) >= 1, (
        "single band should provably miss at least one injected pair"
    )
    # ground truth: every 20th vector (vec_id % 20 == 3) has a twin at
    # vec_id + OFFSET, and the perturbation keeps cosine >= threshold
    n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    expected = {
        (v, v + similarity.COSINE_DUP_OFFSET)
        for v in range(n)
        if v % similarity.COSINE_DUP_EVERY == 3
    }
    assert multi_pairs == expected
    assert (multi.cosine >= similarity.COSINE_DUP_THRESHOLD).all()


def test_ivf_lists_balanced(spark):
    """The trained quantizer's point: inverted lists stay balanced, so the
    list-id shuffle key cannot become the skew key at scale. With the
    round-3 untrained stub (centroids = first 8 vectors) the max/mean
    list-size ratio exceeded 2; trained k-means keeps it tight."""
    from dataflow_opinion_analysis_spark.operators import similarity

    asg = similarity.similarity_ivf_assignments(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    sizes = asg.groupby("cent_id").size()
    assert len(sizes) == similarity.IVF_CENTROIDS, "an inverted list is empty"
    assert sizes.max() / sizes.mean() <= 2.0, sorted(sizes.tolist())


def test_embedding_quantize_int8_roundtrip_bound(spark):
    """int8 quantization invariants: every q fits int8, scale is the
    per-vector max/127, and dequantization (q * scale) reconstructs each
    component within scale/2 + clamp slack — the bound that makes the 4x
    storage cut safe for ANN serving."""
    import numpy as np

    from dataflow_opinion_analysis_spark.operators import similarity

    out = similarity.embedding_quantize_int8(spark, "/root/testdata/sf0.001").toPandas()
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id").toPandas()
    )
    assert len(out) == len(emb)
    out = out.sort_values("vec_id").reset_index(drop=True)
    for (_, row), (_, erow) in zip(out.iterrows(), emb.iterrows()):
        q = np.array([int(t) for t in row.q_str.split(",")])
        x = np.asarray(erow.embedding, dtype=np.float64)
        assert q.min() >= -127 and q.max() <= 127
        scale = np.abs(x).max() / 127.0 or 1.0
        assert abs(row.scale_r6 - round(scale, 6)) < 1e-9
        # reconstruction: |x - q*scale| <= scale/2 (+ tiny FP slack)
        assert np.abs(x - q * scale).max() <= scale / 2 + 1e-12


def test_salted_top_k_equals_plain_window(spark):
    """salted_top_k is EXACTLY the plain rank-window top-k (every global
    top-k row is a local top-k row of its salt bucket), while the plan
    spreads the hot key over (key, salt) partitions in phase 1 — the
    serial-partition escape for rank windows on hot keys."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataflow_opinion_analysis_spark.operators.hints import salted_top_k

    # one pathologically hot key, two small ones
    rows = [(i, "hot", float((i * 2654435761) % 99991)) for i in range(20000)]
    rows += [(100000 + i, "warm", float(i * 7)) for i in range(50)]
    rows += [(200000 + i, "cold", float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "event_id long, key string, value double")

    order = [F.col("value").desc(), F.col("event_id").asc()]
    got = salted_top_k(df, ["key"], order, k=5, salt_src="event_id")
    want = (
        df.withColumn("rk", F.row_number().over(Window.partitionBy("key").orderBy(*order)))
        .filter(F.col("rk") <= 5)
    )
    g = {tuple(r) for r in got.select("key", "rk", "event_id").collect()}
    w = {tuple(r) for r in want.select("key", "rk", "event_id").collect()}
    assert g == w
    # a key with fewer rows than k still yields all its rows, ranked
    assert got.filter(F.col("key") == "cold").count() == 3
    # phase-1 window really partitions by (key, salt)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "extended"
    ) if hasattr(got, "_jdf") else got._explain_string()  # fallback
    assert "_salt" in plan


def test_multimodal_features_internal_consistency(spark):
    """Feature extraction over the byte raster: histogram bins sum to the
    byte count, pooled block sums total the byte sum, and the stride
    sample hash equals a recomputation from the raw payload."""
    import hashlib

    import numpy as np

    from dataflow_opinion_analysis_spark.operators import multimodal
    from tests.conftest import SF_DIR

    rows = {
        r.doc_id: r
        for r in multimodal.multimodal_features(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    assert len(rows) == len(docs)
    for d in docs[:50]:
        r = rows[d.doc_id]
        arr = np.frombuffer((d.text or "").encode("utf-8"), dtype=np.uint8)
        assert r.n_bytes == arr.size
        assert sum(int(x) for x in r.hist_str.split(",")) == arr.size
        assert sum(int(x) for x in r.pooled_str.split(",")) == int(arr.sum())
        want = hashlib.sha256(bytes(arr[::multimodal.FRAME_STRIDE])).hexdigest()
        assert r.sampled_sha == want


def test_multimodal_decode_real_formats(spark):
    """The decode tier is REAL: payloads must parse with independent
    readers (stdlib wave for WAV; a from-scratch P6 header parse here),
    decoded features must match, and corrupted payloads must fail
    honestly (decode_ok=false, NULL features) without killing the task."""
    import io
    import re
    import wave as wave_mod

    import numpy as np

    from dataflow_opinion_analysis_spark.operators import multimodal as mm
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = docs.selectExpr(
        "doc_id",
        "coalesce(text, '') AS text",
        "element_at(array('image','audio','video'), cast(doc_id % 3 + 1 AS int)) AS modality",
    )
    payloads = {
        r.doc_id: (r.modality, bytes(r.payload))
        for r in src.mapInPandas(
            mm.encode_payloads_map, "doc_id long, modality string, payload binary"
        ).collect()
    }
    decoded = {r.doc_id: r for r in mm.multimodal_decode(spark, SF_DIR).collect()}
    assert set(decoded) == set(payloads)

    n_checked = {"image": 0, "audio": 0, "video": 0, "corrupt": 0}
    for doc_id, (modality, payload) in payloads.items():
        d = decoded[doc_id]
        assert d.n_bytes == len(payload)
        if doc_id % mm.CORRUPT_MOD == mm.CORRUPT_REM:
            assert d.decode_ok is False and d.sum_val is None
            n_checked["corrupt"] += 1
            continue
        assert d.decode_ok is True
        if modality == "audio":
            # independent reader: the stdlib wave module must accept it
            with wave_mod.open(io.BytesIO(payload), "rb") as w:
                assert w.getnchannels() == 1 and w.getsampwidth() == 2
                assert w.getframerate() == d.sample_rate == mm.AUD_SR
                assert w.getnframes() == d.n_samples == mm.AUD_N
                samples = np.frombuffer(w.readframes(w.getnframes()), "<i2")
            assert int(samples.sum()) == d.sum_val
        else:
            # independent P6 parse: header regex + exact payload length
            m = re.match(rb"P6\n(\d+) (\d+)\n255\n", payload)
            assert m, "payload is not a valid P6 PPM stream"
            w, h = int(m.group(1)), int(m.group(2))
            assert (w, h) == (d.width, d.height)
            frame_len = m.end() + w * h * 3
            assert len(payload) == frame_len * (d.n_frames or 0)
        n_checked[modality if d.decode_ok else "corrupt"] += 1
    assert all(v > 0 for v in n_checked.values()), n_checked


def test_percentile_sketch_brackets_exact(spark):
    """The GK sketch (events_percentiles_approx) must agree with the
    exact rank rule (events_percentiles) to within the sketch's rank
    accuracy — on 10k rows with accuracy 10000 the rank error is < 1,
    so each approx value must lie within the group's [p-eps, p+eps]
    exact-value bracket (here: equal one of the neighbouring order
    statistics)."""
    from tests.conftest import SF_DIR

    from dataflow_opinion_analysis_spark.operators import events_ops

    exact = {
        (r["event_type"], r["event_date"]): r
        for r in events_ops.events_percentiles(spark, SF_DIR).collect()
    }
    approx = events_ops.events_percentiles_approx(spark, SF_DIR).collect()
    assert len(approx) == len(exact)
    for r in approx:
        e = exact[(r["event_type"], r["event_date"])]
        for i, p in enumerate(("p50", "p90", "p99")):
            # sketch rank error <= n/accuracy < 1 here => value within the
            # exact neighbours; generous absolute guard for robustness
            assert abs(r["p_approx"][i] - e[p]) <= 0.05 * max(abs(e[p]), 1.0), (
                r["event_type"], r["event_date"], p, r["p_approx"][i], e[p])


def test_pq_codebooks_balanced_and_reconstructive(spark):
    """Product quantization invariants: every (subspace, codeword) slot is
    trained (PQ_M x PQ_K rows, 16-dim each), every subspace actually uses
    several codewords (an untrained/collapsed codebook would funnel all
    vectors through one code), and the trained reconstruction beats the
    subspace-mean baseline — i.e. the codes carry information, which is
    what makes the 64x compression usable for ADC search."""
    import numpy as np

    from dataflow_opinion_analysis_spark.operators import similarity

    books = similarity.pq_fit_codebooks(spark, "/root/testdata/sf0.001")
    assert len(books) == similarity.PQ_M * similarity.PQ_K
    assert all(len(c) == similarity.PQ_SUB_DIM for _, _, c in books)

    out = similarity.embedding_quantize_pq(
        spark, "/root/testdata/sf0.001"
    ).toPandas().sort_values("vec_id").reset_index(drop=True)
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id").toPandas()
    )
    assert len(out) == len(emb)
    codes = out["codes_str"].str.split(",", expand=True).astype(int)
    for m in range(similarity.PQ_M):
        used = codes[m].nunique()
        assert used >= similarity.PQ_K // 2, (m, used)

    # reconstruction must beat the one-centroid baseline (quantizing every
    # subvector to the subspace mean == total variance around the mean)
    vecs = np.stack(emb["embedding"].map(np.asarray, na_action=None)).astype(
        np.float64
    )
    baseline = float(((vecs - vecs.mean(axis=0)) ** 2).sum(axis=1).mean())
    got = float(out["recon_err_r6"].mean())
    assert 0.0 < got < baseline, (got, baseline)


def test_pq_adc_matches_numpy_reconstruction(spark):
    """ADC plumbing: for every (query, neighbor) in the top-k output, the
    reported distance must equal the numpy-computed sum over subspaces of
    |query_sub - codeword(neighbor's code)|^2 (within rounding), and the
    per-query ranking must follow it — i.e. the LUT join + partial-sum
    really computes asymmetric PQ distance."""
    import numpy as np

    from dataflow_opinion_analysis_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    books = {(m, cid): np.asarray(c, dtype=np.float64)
             for m, cid, c in similarity.pq_fit_codebooks(spark, sf)}
    codes = similarity.embedding_quantize_pq(spark, sf).toPandas()
    code_of = {
        int(r.vec_id): [int(x) for x in r.codes_str.split(",")]
        for r in codes.itertuples()
    }
    emb = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(f"vec_id < {similarity.N_QUERIES}").toPandas()
    )
    qvec = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}

    out = similarity.similarity_ann_pq_adc(spark, sf).toPandas()
    assert len(out) == similarity.N_QUERIES * similarity.ANN_TOP_K
    d = similarity.PQ_SUB_DIM
    for r in out.itertuples():
        q = qvec[int(r.query_id)]
        want = sum(
            round(
                float(q[m * d:(m + 1) * d] @ q[m * d:(m + 1) * d])
                - 2 * float(q[m * d:(m + 1) * d] @ books[(m, cid)])
                + float(books[(m, cid)] @ books[(m, cid)]),
                6,
            )
            for m, cid in enumerate(code_of[int(r.neighbor_id)])
        )
        assert abs(float(r.adc_dist) - round(want, 6)) < 2e-5, r
    # ranking follows the distance within each query
    for _, grp in out.groupby("query_id"):
        grp = grp.sort_values("rk")
        assert (grp["adc_dist"].diff().dropna() >= 0).all()


def test_bm25_matches_pure_python(spark):
    """text_bm25_topk vs an independent dict-based BM25 (same tokenizer,
    ratio idf, k1=1.2, b=0.75, per-term micro-flooring): the top-k sets,
    scores, and ranks must agree exactly at sf0.001."""
    import math
    import re as _re
    from collections import Counter

    from dataflow_opinion_analysis_spark.operators import dataprep

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text").toPandas()
    toks = {
        int(r.doc_id): _re.findall(r"[a-z0-9']+", (r.text or "").lower())
        for r in docs.itertuples()
    }
    tf = {d: Counter(ts) for d, ts in toks.items()}
    df = Counter(t for c in tf.values() for t in c)
    n = len(toks)
    dl = {d: sum(c.values()) for d, c in tf.items()}
    avgdl = float(sum(dl.values())) / n

    def score(qid: int, did: int) -> tuple[int, int]:
        s, terms = 0, 0
        for t in tf[qid]:
            if t not in tf[did] or df[t] * 100 > n * dataprep.BM25_DF_CAP_PCT:
                continue
            idf = (n - df[t] + 0.5) / (df[t] + 0.5)
            f = tf[did][t]
            part = (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dl[did] / avgdl)))
            s += int(math.floor(idf * part * 1e6))
            terms += 1
        return s, terms

    got = dataprep.text_bm25_topk(spark, sf).toPandas()
    for qid, grp in got.groupby("query_id"):
        qid = int(qid)
        want = sorted(
            ((score(qid, d)[0], d) for d in toks if d != qid),
            key=lambda p: (-p[0], p[1]),
        )[: dataprep.BM25_TOP_K]
        grp = grp.sort_values("rk")
        assert [int(x) for x in grp["match_doc_id"]] == [d for _, d in want]
        assert [int(x) for x in grp["score_micro"]] == [s for s, _ in want]
        for r in grp.itertuples():
            assert int(r.n_terms) == score(qid, int(r.match_doc_id))[1]


def test_ivf_pq_equals_python_composition(spark):
    """similarity_ann_ivf_pq == (probe the IVF lists) ∘ (rank by ADC):
    recompute the candidate set from similarity_ivf_assignments + the
    query probes, the ADC distances from the PQ codes + codebooks, take
    top-k in python, and require the exact same (neighbor, dist, rank)
    lists per query."""
    import numpy as np

    from dataflow_opinion_analysis_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    books = {(m, cid): np.asarray(c, dtype=np.float64)
             for m, cid, c in similarity.pq_fit_codebooks(spark, sf)}
    codes = {
        int(r.vec_id): [int(x) for x in r.codes_str.split(",")]
        for r in similarity.embedding_quantize_pq(spark, sf).toPandas().itertuples()
    }
    assigns = {
        int(r.vec_id): int(r.cent_id)
        for r in similarity_ivf_assignments_df(spark, sf).itertuples()
    }
    cents = similarity.ivf_fit_centroids(spark, sf)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}

    def probe_lists(q):
        scored = []
        for cid, c in cents:
            c = np.asarray(c, dtype=np.float64)
            cos = round(float(vecs[q] @ c)
                        / (float(np.sqrt(vecs[q] @ vecs[q]))
                           * float(np.sqrt(c @ c))), 6)
            scored.append((-cos, cid))
        return [cid for _, cid in sorted(scored)[: similarity.IVF_NPROBE]]

    d = similarity.PQ_SUB_DIM

    def adc(q, n):
        qv = vecs[q]
        tot = 0.0
        for m, cid in enumerate(codes[n]):
            s = qv[m * d:(m + 1) * d]
            c = books[(m, cid)]
            tot += round(float(s @ s) - 2 * float(s @ c) + float(c @ c), 6)
        return round(tot, 6)

    got = similarity.similarity_ann_ivf_pq(spark, sf).toPandas()
    for qid, grp in got.groupby("query_id"):
        qid = int(qid)
        lists = set(probe_lists(qid))
        cand = [v for v, cid in assigns.items() if cid in lists and v != qid]
        want = sorted(((adc(qid, n), n) for n in cand))[: similarity.ANN_TOP_K]
        grp = grp.sort_values("rk")
        assert [int(x) for x in grp["neighbor_id"]] == [n for _, n in want], qid
        for r, (dist, _) in zip(grp.itertuples(), want):
            assert abs(float(r.adc_dist) - dist) < 2e-5
            assert assigns[int(r.neighbor_id)] == int(r.cent_id)


def similarity_ivf_assignments_df(spark, sf):
    from dataflow_opinion_analysis_spark.operators import similarity

    return similarity.similarity_ivf_assignments(spark, sf).toPandas()


def test_ann_recall_floor(spark):
    """Recall@k of every ANN path vs the exact brute-force top-k,
    pinned so a parameter change that silently destroys recall turns
    red. ABSOLUTE recall is structurally low on this corpus and that is
    expected, not a bug: the synthetic embeddings are near-uniform (max
    natural pairwise cosine ~0.51), so true top-k neighbors are barely
    closer than random points — the worst case for any pruning method
    (measured here: IVF 0.57, IVF+PQ 0.10, LSH 0.07). Where actual
    locality exists (the injected cosine≈0.98 twins), the LSH-band and
    IVF machinery provably recovers it — that is the
    dedup_embedding_cosine gate and its contrast test. This test pins
    the measured floors and the full-precision ≥ quantized ordering."""
    from dataflow_opinion_analysis_spark.operators import similarity

    sf = "/root/testdata/sf0.01"
    k = similarity.ANN_TOP_K
    exact = {}
    bf = similarity.similarity_topk_bruteforce(spark, sf).toPandas()
    for qid, grp in bf.groupby("query_id"):
        exact[int(qid)] = set(
            int(x) for x in grp.sort_values("rk")["neighbor_id"].head(k)
        )

    def recall(df):
        got = df.toPandas()
        per_q = []
        for qid, grp in got.groupby("query_id"):
            hits = set(int(x) for x in grp["neighbor_id"]) & exact[int(qid)]
            per_q.append(len(hits) / k)
        # queries the method returned nothing for score 0
        per_q += [0.0] * (len(exact) - len(per_q))
        return sum(per_q) / len(per_q)

    r_ivf = recall(similarity.similarity_ann_ivf(spark, sf))
    r_ivfpq = recall(similarity.similarity_ann_ivf_pq(spark, sf))
    r_lsh = recall(similarity.similarity_ann_lsh(spark, sf))
    assert r_ivf >= 0.5, r_ivf
    assert r_ivfpq >= 0.05, r_ivfpq
    assert r_lsh >= 0.03, r_lsh
    # the full-precision IVF ranking is never beaten by its quantized form
    assert r_ivf >= r_ivfpq - 1e-9, (r_ivf, r_ivfpq)


def test_bpe_merges_match_pure_python(spark):
    """text_bpe_merges == a dict-based BPE trainer (same greedy
    left-to-right merge application, same (count desc, pair asc) argmax)
    at sf0.001 — pins that the double-space regexp trick really
    implements token-level greedy BPE."""
    import re as _re

    from dataflow_opinion_analysis_spark.operators import dataprep

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text").toPandas()
    corpus = [
        _re.findall(r"[a-z0-9']+", (r.text or "").lower())
        for r in docs.itertuples()
    ]

    def merge_doc(toks, a, b):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + "_" + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    got = dataprep.text_bpe_merges(spark, sf).toPandas().sort_values("round")
    for r in got.itertuples():
        counts = {}
        for toks in corpus:
            for x, y in zip(toks, toks[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + 1
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        assert r.merged_pair == f"{a} {b}", (r.round, r.merged_pair, (a, b))
        assert int(r.pair_count) == c
        corpus = [merge_doc(t, a, b) for t in corpus]
        assert int(r.corpus_tokens_after) == sum(len(t) for t in corpus)
        assert int(r.distinct_tokens_after) == len(
            {x for t in corpus for x in t}
        )


def test_bpe_merges_empty_corpus_matches_oracle(spark, tmp_path):
    """An empty documents table has no pair to merge in any round: Spark
    returns the DuckDB oracle's rows instead of failing on the empty
    round-1 argmax."""
    import duckdb
    import pyarrow.parquet as pq

    from dataflow_opinion_analysis_spark import oracles_dataprep
    from dataflow_opinion_analysis_spark.operators import dataprep
    from tests.conftest import SF_DIR

    docs = tmp_path / "documents.parquet"
    pq.write_table(pq.read_schema(f"{SF_DIR}/documents.parquet").empty_table(), docs)
    got = sorted(tuple(r) for r in dataprep.text_bpe_merges(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    want = sorted(con.execute(oracles_dataprep.TEXT_BPE_MERGES_SQL).fetchall())
    assert got == want == [(r, None, None, None, 0) for r in (1, 2, 3)]


def test_fit_cache_hit_rebinds_embeddings_view(spark):
    """A memoized fit must still (re)bind the `embeddings` temp view to
    ITS sf_dir: without the rebind, a cache-hit serve after any other
    query registered a different corpus silently quantizes the wrong
    vectors with the cached model (sf0.001 and sf0.01 carry different
    embedding values, so the codes would differ)."""
    from dataflow_opinion_analysis_spark.operators import similarity

    a = "/root/testdata/sf0.001"
    b = "/root/testdata/sf0.01"
    first = sorted(
        (r.vec_id, r.codes_str)
        for r in similarity.embedding_quantize_pq(spark, a).collect()
    )
    # another operator binds the view to a DIFFERENT corpus...
    similarity._emb(spark, b)
    # ...and the warm-cache serve of `a` must still serve corpus `a`
    again = sorted(
        (r.vec_id, r.codes_str)
        for r in similarity.embedding_quantize_pq(spark, a).collect()
    )
    assert again == first
