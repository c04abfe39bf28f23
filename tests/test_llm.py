"""Semantics tests for the LLM-pipeline operators (beyond oracle parity)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tracy_matdb_spark.queries import load_all

REGISTRY = load_all()


def test_lsh_candidates_subset_of_exact(spark):
    from tracy_matdb_spark.queries.llm import embedding_near_dup_exact

    exact = embedding_near_dup_exact(spark, SF_SMOKE).toPandas()
    lsh = REGISTRY["embedding_lsh_near_dup"].fn(spark, SF_SMOKE).toPandas()
    exact_pairs = set(zip(exact.vec_a, exact.vec_b))
    lsh_pairs = set(zip(lsh.vec_a, lsh.vec_b))
    assert lsh_pairs <= exact_pairs  # LSH must never invent pairs
    recall = len(lsh_pairs) / max(len(exact_pairs), 1)
    # banded sign-LSH at cos>=0.4 is a coarse prefilter on this
    # near-orthogonal corpus (max pair sim_q is ~0.48 — no high-cos
    # regime exists here; test_lsh_planted_high_cos_pairs covers that).
    # The fixture and plan are deterministic, so the measured 0.318 is
    # exact run-to-run: pin just under it — a one-band regression
    # (roughly halves low-cos recall) fails here, and any floor loose
    # enough that a mostly-broken LSH passes is gone (r10 verdict #4).
    assert recall >= 0.30, f"recall {recall:.2%}"


def test_lsh_planted_high_cos_pairs(spark, tmp_path):
    """The high-similarity regime the smoke corpus lacks: plant 20
    pairs at cos≈0.97 among 200 random 64-dim vectors and require the
    banded sign-LSH to recover ≥90% (measured 1.0; a single-band
    regression predicts ~0.5 here — per-dim sign-flip prob at cos 0.97
    is acos(0.97)/pi≈0.078, so one 8-bit band matches with
    0.922^8≈0.52 — and fails this threshold)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    n = 200
    base = rng.randn(n, 64).astype("float32")
    rows = [(i, base[i].tolist(), 0) for i in range(n)]
    planted = []
    vid = n
    for i in range(20):
        w = rng.randn(64)
        w /= np.linalg.norm(w)
        v = base[i] / np.linalg.norm(base[i])
        v2 = 0.97 * v + np.sqrt(1 - 0.97**2) * w
        planted.append((i, vid))
        rows.append((vid, v2.astype("float32").tolist(), 0))
        vid += 1
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        str(tmp_path / "embeddings.parquet"), index=False
    )
    out = REGISTRY["embedding_lsh_near_dup"].fn(spark, str(tmp_path)).toPandas()
    found = set(zip(out.vec_a, out.vec_b))
    hits = sum(1 for a, b in planted if (a, b) in found or (b, a) in found)
    assert hits / len(planted) >= 0.9, f"planted recall {hits}/{len(planted)}"


def test_minhash_candidates_capture_high_jaccard(spark):
    mh = REGISTRY["minhash_lsh_pairs"].fn(spark, SF_SMOKE).toPandas()
    jac = REGISTRY["ngram_jaccard_pairs"].fn(spark, SF_SMOKE).toPandas()
    mh_pairs = set(zip(mh.doc_a, mh.doc_b))
    # pairs with very high true jaccard should be found by LSH
    hi = jac[jac.jaccard_q >= 500_000]
    hi_pairs = set(zip(hi.doc_a, hi.doc_b))
    found = len(hi_pairs & mh_pairs)
    assert not hi_pairs or found / len(hi_pairs) >= 0.5


def test_dedup_exact_is_lossless_partition(spark):
    out = REGISTRY["dedup_exact"].fn(spark, SF_SMOKE).toPandas()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert out.n_dups.sum() == docs.count()  # every doc assigned to one group
    assert out.keep_id.is_unique


def test_simhash_close_for_identical_docs(spark):
    fp = REGISTRY["doc_fingerprint"].fn(spark, SF_SMOKE).toPandas()
    assert fp.simhash16.between(0, 65535).all()
    # identical text => identical simhash (determinism)
    fp2 = REGISTRY["doc_fingerprint"].fn(spark, SF_SMOKE).toPandas()
    assert fp.simhash16.equals(fp2.simhash16)


def test_simhash_near_dup_banding_lossless(spark):
    """The 4-band bucketed join must find EXACTLY the brute-force pairs
    (pigeonhole: hd<=3 leaves >=1 of the 4 12-bit bands identical)."""
    import itertools

    from tracy_matdb_spark.queries.llm import SIMHASH_MAX_HD, _simhash_fp_df

    out = REGISTRY["simhash_near_dup"].fn(spark, SF_SMOKE).toPandas()
    fp = _simhash_fp_df(spark, SF_SMOKE).toPandas()
    sh = dict(zip(fp.doc_id, fp.sh))
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= SIMHASH_MAX_HD
    }
    assert set(zip(out.doc_a, out.doc_b)) == brute
    assert (out.hamming <= SIMHASH_MAX_HD).all()


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=2 of 8 cells is approximate; assert it still
    recovers a healthy fraction of the true top-10 (and that every
    returned neighbor's similarity is computed correctly — parity with
    the brute-force sim for the same vec_ids)."""
    ivf = REGISTRY["knn_ivf_embeddings"].fn(spark, SF_SMOKE).toPandas()
    bf = REGISTRY["knn_embeddings"].fn(spark, SF_SMOKE).toPandas()
    assert len(ivf) == 10 and ivf.vec_id.is_unique
    bf_sims = dict(zip(bf.vec_id, bf.sim_q))
    for _, r in ivf.iterrows():
        if r.vec_id in bf_sims:
            assert bf_sims[r.vec_id] == r.sim_q
    recall = len(set(ivf.vec_id) & set(bf.vec_id)) / len(bf)
    # measured 0.7 at SF_SMOKE (nprobe=2 of 8 cells on near-orthogonal
    # vectors); pinned to measured-minus-margin — a single-probe or
    # mis-assignment regression lands well below this
    assert recall >= 0.6, recall


def test_connected_components_known_graph(spark):
    from tracy_matdb_spark.operators.graph import connected_components

    # two chains (1-2-3-4, 10-11) + an isolate (99): diameter-3 path
    # exercises multi-round propagation, isolate keeps itself.
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], ["id"])
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (11, 10)], ["src", "dst"]
    )
    out = {
        r.id: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def _micro_int_matrix(sf_dir):
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    mat = np.floor(
        np.stack(emb.embedding.to_numpy()).astype("float64") * 1_000_000
    ).astype("int64")
    return emb.vec_id.to_numpy(), mat


def test_pq_adc_matches_numpy(spark):
    """knn_pq_embeddings must equal an independent numpy recomputation
    of the full PQ pipeline: seed codebook -> PQ_LLOYD_ITERS k-means
    rounds (floor-mean update, empty clusters keep the seed) -> integer
    argmin encode with min-cid ties -> ADC shortlist -> exact micro-int
    cosine re-rank of the top-PQ_RERANK."""
    import numpy as np
    import pandas as pd

    from tracy_matdb_spark.queries.llm import (
        PQ_D,
        PQ_K,
        PQ_LLOYD_ITERS,
        PQ_M,
        PQ_RERANK,
        PQ_TOP,
    )

    out = REGISTRY["knn_pq_embeddings"].fn(spark, SF_SMOKE).toPandas()
    ids, mat = _micro_int_matrix(SF_SMOKE)
    sub = mat.reshape(len(ids), PQ_M, PQ_D)
    cb0 = sub[np.isin(ids, np.arange(1, PQ_K + 1))]  # (K, M, D), cid order
    q = sub[ids == 0][0]  # (M, D)
    corpus = sub[ids != 0]  # training set (query excluded)

    def encode(cb):
        # per (vector, subspace) nearest centroid, ties -> min cid
        d2 = ((corpus[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        return d2.argmin(axis=1)  # (Nc, M); argmin ties -> first (= min cid)

    cb = cb0
    for _ in range(PQ_LLOYD_ITERS):
        codes = encode(cb)
        new = cb0.copy()
        for m in range(PQ_M):
            for j in range(len(cb0)):
                members = corpus[codes[:, m] == j, m, :]
                if len(members):
                    new[j, m, :] = np.floor(
                        members.sum(axis=0).astype("float64") / len(members)
                    ).astype("int64")
        cb = new
    codes = encode(cb)
    dtab = ((q[None, :, :] - cb) ** 2).sum(axis=2)  # (K, M)
    ad2 = dtab[codes, np.arange(PQ_M)].sum(axis=1)  # (Nc,)
    cids = ids[ids != 0]
    order = np.lexsort((cids, ad2))[:PQ_RERANK]
    short = dict(zip(cids[order], ad2[order]))
    # exact re-rank: micro-int cosine from the RAW float embeddings
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    raw = np.stack(emb.embedding.to_numpy()).astype("float64")
    rids = emb.vec_id.to_numpy()
    qv = raw[rids == 0][0]
    sims = np.floor(
        (raw @ qv) / (np.sqrt((raw**2).sum(axis=1)) * np.sqrt(qv @ qv)) * 1_000_000
    ).astype("int64")
    simmap = dict(zip(rids, sims))
    rr = sorted(((-simmap[i], i) for i in short), key=lambda t: (t[0], t[1]))
    top = [(i, short[i], -neg) for neg, i in rr[:PQ_TOP]]
    assert list(zip(out.vec_id, out.ad2, out.sim_q)) == top


def test_pq_recall_vs_brute_force(spark):
    """The full PQ pipeline (ADC shortlist + exact re-rank, Jegou 2011
    §V) must recover >= 8 of the exact top-10 even on the isotropic
    synthetic corpus — the PQ worst case (no cluster structure for the
    codebook to exploit). Measured: 10/10 at sf0.001 and sf0.01 with
    one Lloyd round and R=30; pure ADC plateaued at 6-7/10, which is
    exactly why the re-rank stage exists."""
    out = REGISTRY["knn_pq_recall"].fn(spark, SF_SMOKE).toPandas()
    assert out.k[0] == 10
    assert out.n_overlap[0] >= 8, out.n_overlap[0]


def test_maxsim_matches_numpy(spark):
    """maxsim_late_interaction must equal the numpy MaxSim (sum over
    query tokens of max dot against any doc token) on micro-int data."""
    import numpy as np

    from tracy_matdb_spark.queries.llm import MAXSIM_D, MAXSIM_T, MAXSIM_TOP

    out = REGISTRY["maxsim_late_interaction"].fn(spark, SF_SMOKE).toPandas()
    ids, mat = _micro_int_matrix(SF_SMOKE)
    tok = mat.reshape(len(ids), MAXSIM_T, MAXSIM_D)
    q = tok[ids == 0][0]  # (T, D)
    # dots[n, u, t] = doc token u . query token t
    dots = np.einsum("nud,td->nut", tok, q)
    scores = dots.max(axis=1).sum(axis=1)  # max over doc tokens, sum over query
    mask = ids != 0
    order = np.lexsort((ids[mask], -scores[mask]))
    top = [(ids[mask][i], scores[mask][i]) for i in order[:MAXSIM_TOP]]
    assert list(zip(out.vec_id, out.maxsim)) == top


def test_jl_matrix_literal(spark):
    """The JL projection's driver-side literal sign matrix (hashlib md5
    parity) must equal the SQL expression form (textops.tok_hash60
    parity) cell-for-cell — the equality that lets the Spark plan
    constant-fold the matrix while the DuckDB oracle keeps the
    expression (round-10 rework: inline per-row md5 measured 258 s at
    the 200k-vector sf10; the literal form runs in 14 s)."""
    import hashlib

    from tracy_matdb_spark.queries.llm import JL_D, JL_K, _jl_sign

    rows = spark.sql(
        f"SELECT i, j, {_jl_sign('spark')} AS s FROM "
        f"(SELECT explode(sequence(0, {JL_D - 1})) AS i) "
        f"CROSS JOIN (SELECT explode(sequence(0, {JL_K - 1})) AS j)"
    ).collect()
    assert len(rows) == JL_D * JL_K
    for r in rows:
        h = hashlib.md5(f"jl|{r.i}_{r.j}".encode()).hexdigest()[:15]
        assert (1 if int(h, 16) % 2 == 0 else -1) == r.s, (r.i, r.j)


def test_lsh_widened_bands_keep_high_cos_recall(spark, tmp_path, monkeypatch):
    """The corpus-scaling gate (extra hyperplane bits per band) has no
    effect at test scale factors by design, so this forces it: with
    LSH_TARGET_BUCKET_LOAD patched to 1, a 620-vector corpus widens
    each band by ceil(log2(620/256)) = 2 bits. The widened plan must
    (a) actually take the widened path, (b) still never invent pairs,
    and (c) keep >=0.9 recall on 20 planted cos~0.97 pairs — the
    property the extra bits must not break (cos 0.97 sign-flip prob
    ~0.078/dim; 8 bands of 10 bits match with 1-(1-0.922^10)^8 ~ 0.98)."""
    import numpy as np
    import pandas as pd

    import tracy_matdb_spark.queries.llm as llm

    monkeypatch.setattr(llm, "LSH_TARGET_BUCKET_LOAD", 1)
    # i != j in every pair-difference hyperplane, all bands/bits, as the
    # SQL the bucket is built from evaluates them
    dims = ", ".join(f"{i} AS i{e}, {j} AS j{e}" for e in range(16) for i, j in [llm._lsh_pair_dims(e)])
    bands = spark.sql(f"SELECT band, {dims} FROM (SELECT explode(sequence(0, {llm.LSH_BANDS - 1})) AS band)")
    for r in bands.collect():
        for e in range(16):
            i = (llm.LSH_BAND_BITS * r.band + e) % 64
            j = (i + 17 + 3 * e) % 64
            assert i != j and (r[f"i{e}"], r[f"j{e}"]) == (i, j)

    rng = np.random.RandomState(11)
    n = 600
    base = rng.randn(n, 64).astype("float32")
    rows = [(i, base[i].tolist(), 0) for i in range(n)]
    planted = []
    vid = n
    for i in range(20):
        w = rng.randn(64)
        w /= np.linalg.norm(w)
        v = base[i] / np.linalg.norm(base[i])
        v2 = 0.97 * v + np.sqrt(1 - 0.97**2) * w
        planted.append((i, vid))
        rows.append((vid, v2.astype("float32").tolist(), 0))
        vid += 1
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        str(tmp_path / "embeddings.parquet"), index=False
    )
    assert llm._lsh_extra_bits(str(tmp_path)) == 2  # the gate fired
    out = llm.embedding_lsh_near_dup(spark, str(tmp_path)).toPandas()
    exact = llm.embedding_near_dup_exact(spark, str(tmp_path)).toPandas()
    assert set(zip(out.vec_a, out.vec_b)) <= set(zip(exact.vec_a, exact.vec_b))
    found = set(zip(out.vec_a, out.vec_b))
    hits = sum(1 for a, b in planted if (a, b) in found or (b, a) in found)
    assert hits / len(planted) >= 0.9, f"widened recall {hits}/{len(planted)}"


def _huge_corpus(monkeypatch):
    """Force the LSH gate's big branch: every footer reads 2^40 rows."""
    from tracy_matdb_spark import catalog

    monkeypatch.setattr(catalog, "table_num_rows", lambda sf_dir, table: 1 << 40)


def test_lsh_widest_bands_compile_without_codegen_fallback(spark, monkeypatch):
    """At LSH_EXTRA_BITS_MAX every band's bucket has 8 + 16 terms. With
    `spark.sql.codegen.fallback` off, a plan whose generated Java does not
    compile (Janino's 64 KB method limit) fails instead of quietly
    running interpreted, so the query must complete."""
    import tracy_matdb_spark.queries.llm as llm

    _huge_corpus(monkeypatch)
    assert llm._lsh_extra_bits(SF_SMOKE) == llm.LSH_EXTRA_BITS_MAX
    before = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        llm.embedding_lsh_near_dup(spark, SF_SMOKE).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", before)


def test_lsh_widest_bands_match_oracle_on_duplicates(spark, tmp_path, monkeypatch):
    """The forced-huge parity pass is empty at sf0.001 (16 extra bits split
    every bucket), so this corpus holds exact duplicates, which share
    every bucket at any width, and near duplicates. The widest branch
    must find pairs and equal its DuckDB twin at the same width."""
    import duckdb
    import numpy as np
    import pandas as pd

    import tracy_matdb_spark.queries.llm as llm
    from tools.check_parity import compare

    rng = np.random.RandomState(5)
    base = rng.randn(40, 64).astype("float32")
    vecs = [*base, *base[:5], *(base[5:15] + 0.01 * rng.randn(10, 64).astype("float32"))]
    pd.DataFrame(
        {"vec_id": np.arange(len(vecs), dtype="int64"), "embedding": [v.tolist() for v in vecs],
         "label": np.zeros(len(vecs), dtype="int32")}
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    _huge_corpus(monkeypatch)
    assert llm._lsh_extra_bits(str(tmp_path)) == llm.LSH_EXTRA_BITS_MAX
    got = llm.embedding_lsh_near_dup(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path / 'embeddings.parquet'}')")
    want = con.execute(llm._embedding_lsh_sql_duckdb(llm.LSH_EXTRA_BITS_MAX)).df()
    assert {(i, i + 40) for i in range(5)} <= set(zip(got.vec_a, got.vec_b))
    assert not compare("embedding_lsh_near_dup", got, want)
