"""Parity vs the ACTUAL reference implementations at /root/reference.

Round-1 VERDICT item 1: every prior "parity" test compared against numpy
re-derivations by the same builder. This module runs the reference's own
detectors VERBATIM (through the numpy-backed shims in tests/refshims/ —
scipy/networkx/sklearn are absent from the sandbox) on the engine's
sf0.001 graph and asserts per-vertex agreement:

- GANG       pu_lbp trajectory    allclose 1e-9   (GANG.py:115-137)
- ZooBP      literal fixpoint     exact at 6dp + seed-independence
                                  (ZooBP.py:76-154; see operators/zoobp.py)
- Fraudar    detect_blocks peel + eval normalization   exact sets,
                                  scores 1e-12    (Fraudar.py:195-249,
                                  eval_Fraudar.py:66-113)
- fBox       suspicious id sets   exact            (fBox.py:52-107)
- SVD        ||U·Σ|| row norms    allclose 1e-6    (SVD.py:25-55)
- SpEagle    beliefs at convergence  allclose 1e-6 (SpEagle.py; the
                                  reference sweeps async Gauss-Seidel,
                                  the engine synchronous Jacobi — same
                                  fixpoint, compared converged)
- Prior      scale_value on the keys the reference emits (helper.py:66-86
                                  has a for-else indentation bug: only
                                  norm-0/1 keys plus the LAST key survive)
- helper.create_ground_truth vs engine ground_truth_users   exact

Reference quirks pinned here rather than replicated blindly:
- eval_Fraudar.py:108 hardcodes ``print(detected_users['302'])`` (a
  YelpChi leftover) — crashes on any other graph, so the thin eval
  wrapper is mirrored (detect_blocks itself runs verbatim);
- SVD.py:25 builds the dense rating matrix with ``np.empty`` and fills
  only the edges — uninitialized memory for non-edges; parity uses the
  zero-initialized interpretation (verified non-identical here).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(__file__))

from reference_loader import (  # noqa: E402
    REF_DIR,
    build_reference_graph,
    engine_edges_sf,
    load_reference,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ref():
    if not os.path.isdir(REF_DIR):
        pytest.skip(f"reference implementation absent: {REF_DIR} not found")
    return load_reference()


@pytest.fixture(scope="module")
def ref_graph(ref):
    edges = engine_edges_sf(SF_SMALL)
    g, maps = build_reference_graph(edges)
    return edges, g, maps


# --------------------------------------------------------- shim sanity

def test_shim_faithfulness(ref):
    from scipy import sparse
    from scipy.special import logsumexp

    # coo duplicates sum; > / astype; lil rows sorted
    m = sparse.coo_matrix(([1, 1, 1], ([0, 0, 1], [2, 2, 0])), shape=(2, 3))
    assert m.a[0, 2] == 2 and m.a[1, 0] == 1
    b = (m > 0).astype("int")
    assert b.a.sum() == 2
    lil = b.tolil()
    assert lil.rows[0] == [2] and lil.rows[1] == [0]
    # * is matmul; sum(axis) returns np.matrix with .A
    d = sparse.lil_matrix((3, 3))
    d.setdiag([2.0, 3.0, 4.0])
    w = b * d
    assert np.allclose(w.a, b.a * np.array([2.0, 3.0, 4.0]))
    assert np.squeeze(w.sum(axis=0).A).shape == (3,)
    # svds: top-k projection norms equal full-SVD truncation
    rng = np.random.default_rng(3)
    a = rng.standard_normal((20, 8))
    from scipy.sparse.linalg import svds

    u, s, vt = svds(a, k=3)
    assert np.all(np.diff(s) >= 0)  # scipy ascending order
    uf, sf_, _ = np.linalg.svd(a, full_matrices=False)
    assert np.allclose(sorted(s), sorted(sf_[:3]), atol=1e-10)
    # logsumexp matches the manual definition, axis and axis-free
    x = rng.standard_normal((4, 2))
    assert np.allclose(logsumexp(x), np.log(np.exp(x).sum()))
    assert np.allclose(logsumexp(x, axis=1), np.log(np.exp(x).sum(axis=1)))


# -------------------------------------------------------------- GANG

def test_gang_parity(ref, ref_graph, spark):
    from ugfraud_spark.operators import gang as gang_op
    from ugfraud_spark.sources import tables

    edges, _g_users_first, _maps = ref_graph
    # GANG needs the insertion-order == int-id alignment (see
    # build_reference_graph docstring) — its own aligned fixture:
    g, maps = build_reference_graph(edges, prods_first=True)
    model = ref["GANG"].GANG(g, {}, 0.1, nor_flg=True, sup_flg=False)
    # reference starts from B=0, so its first iteration lands on B=prior —
    # the engine's state0. Engine iteration k == reference iteration k+1.
    model.pu_lbp(1)
    for _ in range(5):
        model.pu_lbp(1)
    ref_vec = model.res_pu_spam_post_vector.ravel()
    n_p = maps["n_prods"]
    ref_scores = {}
    for i in range(len(ref_vec)):
        rid = str(i)
        orig = maps["p_inv"][rid] if i < n_p else maps["u_inv"][rid]
        ref_scores[orig] = ref_vec[i]

    e = tables.bipartite_edges(spark, SF_SMALL)
    pri = tables.vertex_priors(tables.vertices_of(e))
    res = gang_op.gang(e, pri, max_iter=5)
    eng = {r["id"]: r["belief"] for r in res.state.collect()}

    assert set(eng) == set(ref_scores)
    diffs = [abs(eng[k] - ref_scores[k]) for k in eng]
    assert max(diffs) < 1e-9, f"max GANG diff {max(diffs)}"


# ------------------------------------------------------------- ZooBP

def test_zoobp_literal_parity_and_seed_independence(ref, ref_graph, spark):
    from ugfraud_spark.operators import zoobp as zoobp_op
    from ugfraud_spark.sources import tables

    edges, g, maps = ref_graph
    H = np.array([[0.5, -0.5], [-0.5, 0.5]])
    outs = []
    for seed in (42, 7):
        np.random.seed(seed)
        zb = ref["ZooBP"].ZooBP(g, 0.01, H)
        ubel, pbel = zb.run()
        outs.append((ubel, pbel))
    # the random init cancels (see operators/zoobp.py derivation)
    for k in outs[0][0]:
        assert abs(outs[0][0][k] - outs[1][0][k]) < 1e-12
    ref_scores = {}
    for k, v in outs[0][0].items():
        ref_scores[maps["u_inv"][k]] = v
    for k, v in outs[0][1].items():
        ref_scores[maps["p_inv"][k]] = v

    e = tables.bipartite_edges(spark, SF_SMALL)
    pri = tables.vertex_priors(tables.vertices_of(e))
    eng = {r["id"]: r["belief"]
           for r in zoobp_op.zoobp_literal(e, pri).collect()}
    assert set(eng) == set(ref_scores)
    diffs = [abs(eng[k] - ref_scores[k]) for k in eng]
    assert max(diffs) < 1e-9, f"max ZooBP-literal diff {max(diffs)}"


# ----------------------------------------------------------- Fraudar

def _reference_fraudar_scores(ref, g, helper, weight_fn="logWeightedAveDegree"):
    """detect_blocks verbatim + the eval_Fraudar.py:66-113 normalization
    (wrapper mirrored because of the hardcoded '302' debug print).
    ``weight_fn`` names the reference's column-weighting mode
    (Fraudar.py:153-178): logWeightedAveDegree / sqrtWeightedAveDegree /
    aveDegree."""
    Fm = ref["Fraudar"]
    u_ids = list(helper.node_attr_filter(g, "types", "user", "types").keys())
    u2i = {u: i for i, u in enumerate(u_ids)}
    p2i: dict = {}
    p_ids: list = []
    es, ed = [], []
    for u in u_ids:
        for p in g[u].keys():
            if p not in p2i:
                p2i[p] = len(p_ids)
                p_ids.append(p)
            es.append(u2i[u])
            ed.append(p2i[p])
    M = Fm.listToSparseMatrix(es, ed)
    res = Fm.detect_blocks(
        M, getattr(Fm, weight_fn) if isinstance(weight_fn, str) else weight_fn)

    detected_users: dict = {}
    for (rows, _cols), weight in res:
        for i in rows:
            detected_users.setdefault(u_ids[i], weight)
    max_den, min_den = res[0][1], res[-1][1]
    interval = max_den - min_den
    scores = {}
    for u in u_ids:
        if u in detected_users:
            scores[u] = (detected_users[u] - min_den) / interval
        else:
            scores[u] = 1e-6
    return scores, res


def test_fraudar_parity(ref, ref_graph, spark):
    from ugfraud_spark.operators import fraudar as fr
    from ugfraud_spark.sources import tables

    edges, g, maps = ref_graph
    ref_scores_rel, _res = _reference_fraudar_scores(ref, g, ref["helper"])
    ref_scores = {maps["u_inv"][k]: v for k, v in ref_scores_rel.items()}

    e = tables.bipartite_edges(spark, SF_SMALL)
    eng = {r["id"]: r["score"] for r in fr.fraudar_scores(e).collect()}
    assert set(eng) == set(ref_scores)
    diffs = [abs(eng[k] - ref_scores[k]) for k in eng]
    assert max(diffs) < 1e-12, f"max Fraudar diff {max(diffs)}"


def test_reference_sqrt_weighting_crashes_verbatim(ref):
    """Executable evidence for why the sqrt parity test mirrors intent:
    the verbatim ``sqrtWeightedAveDegree`` IndexErrors on any matrix
    whose peel touches a column index ≥ 1 (np.matrix squeeze bug)."""
    Fm = ref["Fraudar"]
    M = Fm.listToSparseMatrix([0, 0, 1, 2], [0, 1, 1, 2])
    with pytest.raises(IndexError):
        Fm.sqrtWeightedAveDegree(M)


def _sqrt_intent(Fm):
    """``sqrtWeightedAveDegree`` as the reference INTENDED it.

    The verbatim ``Fraudar.py:153-162`` crashes on any nontrivial input:
    ``np.squeeze`` of the ``np.matrix`` that ``M.sum(axis=0)`` returns
    stays 2-D, so ``colWeights[j]`` inside ``fastGreedyDecreasing``
    raises IndexError on the first row deletion (the log variant wraps
    the same expression in ``np.array(...)`` — ``Fraudar.py:168`` — and
    works). This mirror applies exactly that one-line fix and still
    routes through the reference's verbatim ``fastGreedyDecreasing``."""
    import numpy as _np
    from scipy import sparse as _sparse

    def f(M):
        (_m, n) = M.shape
        col_sums = M.sum(axis=0)
        col_weights = 1.0 / _np.sqrt(_np.squeeze(_np.asarray(col_sums)) + 5)
        col_diag = _sparse.lil_matrix((n, n))
        col_diag.setdiag(col_weights)
        return Fm.fastGreedyDecreasing(M * col_diag, col_weights)

    return f


@pytest.mark.parametrize("eng_mode,ref_fn", [
    ("sqrt", "sqrtWeightedAveDegree"),   # Fraudar.py:153-162 (see below)
    ("ave", "aveDegree"),                # Fraudar.py:175-178
])
def test_fraudar_weighting_variants_parity(ref, ref_graph, spark,
                                           eng_mode, ref_fn):
    """The reference's other two public column-weighting modes, at the
    same exact-incl-tie-breaks bar as the log variant (VERDICT r4 #4).
    ``sqrt`` is compared against the reference's *intent* because the
    verbatim function crashes (see ``_sqrt_intent``); the kernel under
    it is still the verbatim reference peel."""
    from ugfraud_spark.operators import fraudar as fr
    from ugfraud_spark.sources import tables

    edges, g, maps = ref_graph
    if eng_mode == "sqrt":
        ref_fn = _sqrt_intent(ref["Fraudar"])
    ref_scores_rel, _res = _reference_fraudar_scores(
        ref, g, ref["helper"], weight_fn=ref_fn)
    ref_scores = {maps["u_inv"][k]: v for k, v in ref_scores_rel.items()}

    e = tables.bipartite_edges(spark, SF_SMALL)
    eng = {r["id"]: r["score"]
           for r in fr.fraudar_scores(e, weighting=eng_mode).collect()}
    assert set(eng) == set(ref_scores)
    diffs = [abs(eng[k] - ref_scores[k]) for k in eng]
    assert max(diffs) < 1e-12, f"max Fraudar[{eng_mode}] diff {max(diffs)}"


# -------------------------------------------------------------- fBox

def test_fbox_parity(ref, ref_graph, spark):
    from ugfraud_spark.operators import fbox as fbox_op
    from ugfraud_spark.sources import tables

    edges, g, maps = ref_graph
    model = ref["fBox"].fBox(g)
    su, sp = model.run(20, 50)
    ref_users = {maps["u_inv"][u] for lst in su.values() for u in lst}
    ref_prods = {maps["p_inv"][p] for lst in sp.values() for p in lst}

    e = tables.bipartite_edges(spark, SF_SMALL)
    eu, ep = fbox_op.fbox(e, tau=20.0, k=50)
    eng_users = {r["id"] for r in eu.collect()}
    eng_prods = {r["id"] for r in ep.collect()}
    assert eng_users == ref_users
    assert eng_prods == ref_prods


# --------------------------------------------------------------- SVD

def test_svd_norms_parity(ref, ref_graph, spark):
    from scipy.sparse.linalg import svds

    from ugfraud_spark.operators import svd as svd_op
    from ugfraud_spark.sources import tables

    edges, g, maps = ref_graph
    sv = ref["SVD"].SVD(g)
    # SVD.py:25 np.empty bug: non-edge cells are uninitialized memory.
    # Zero-initialized interpretation (the only sane one) for parity:
    m = np.zeros_like(sv.user_prod_matrix)
    for u_id in sv.user_index:
        for p_id in g[u_id].keys():
            m[sv.user_index[u_id], sv.prod_index[p_id]] = (
                g.edges.get((u_id, p_id))["rating"]
            )
    k = int(max(np.round(min(m.shape) * 0.9), 1))
    u, s, _vt = svds(m, k=k)
    norms = np.linalg.norm(u * s[None, :], axis=1)
    uid_by_idx = {i: u_id for u_id, i in sv.user_index.items()}
    ref_norms = {maps["u_inv"][uid_by_idx[i]]: norms[i] for i in range(len(norms))}

    e = tables.bipartite_edges(spark, SF_SMALL)
    eng = {r["id"]: r["norm"]
           for r in svd_op.svd_user_norms(e, percent=0.9).collect()}
    assert set(eng) == set(ref_norms)
    diffs = [abs(eng[kk] - ref_norms[kk]) for kk in eng]
    assert max(diffs) < 1e-6, f"max SVD norm diff {max(diffs)}"


# ------------------------------------------------------------ SpEagle

def test_speagle_parity_at_convergence(ref, ref_graph, spark):
    """Async Gauss-Seidel (reference) and synchronous Jacobi (engine)
    share the BP fixpoint — compare both run to convergence on a
    subgraph (SURVEY §7/M4 parity strategy)."""
    from ugfraud_spark.operators import speagle as sp_op
    from ugfraud_spark.sources import tables

    edges, _g, _maps = ref_graph
    users = sorted({e[0] for e in edges})[:150]
    keep = set(users)
    sub = [e for e in edges if e[0] in keep]
    g, maps = build_reference_graph(sub)

    eps_n, eps = 1e-5, 0.1
    urp = np.log(np.array([[1 - eps_n, eps_n], [eps_n, 1 - eps_n]]))
    rpp = np.log(np.array([[1 - eps, eps], [eps, 1 - eps]]))
    pots = {"u_r": urp, "r_u": urp, "r_p": rpp, "p_r": rpp}
    model = ref["SpEagle"].SpEagle(g, pots, message=None, max_iters=200)
    model.schedule(schedule_type="bfs")
    model.run_bp(start_iter=0, max_iters=200, tol=1e-12)
    u_ref, r_ref, p_ref = model.classify()

    spark_edges = spark.createDataFrame(
        [(int(s), int(d), 1.0, int(sg)) for s, d, sg in sub],
        "src long, dst long, weight double, sign int",
    )
    up = tables.vertex_priors(
        spark_edges.select(F.col("src").alias("id")).distinct())
    pp = tables.vertex_priors(
        spark_edges.select(F.col("dst").alias("id")).distinct())
    rp = tables.edge_priors(spark_edges)
    # Jacobi contraction ≈ sqrt of Gauss-Seidel's: the reference hits
    # 1e-12 message deltas in ~34 sweeps; measured Jacobi gap is 4.7e-5
    # after 48 supersteps and < 1e-6 by ~70 (ρ_J ≈ 0.69). 72 supersteps
    # balance margin vs wall time (superstep overhead bounds this test).
    _res, ub, pb, rb = sp_op.speagle(spark_edges, up, pp, rp, max_iter=72)
    eng_u = {r["id"]: r["belief"] for r in ub.collect()}
    eng_p = {r["id"]: r["belief"] for r in pb.collect()}
    eng_r = {(r["src"], r["dst"]): r["belief"] for r in rb.collect()}

    u_inv, p_inv = maps["u_inv"], maps["p_inv"]
    du = max(abs(eng_u[u_inv[k]] - v) for k, v in u_ref.items())
    dp = max(abs(eng_p[p_inv[k]] - v) for k, v in p_ref.items())
    dr = max(
        abs(eng_r[(u_inv[k[0]], p_inv[k[1]])] - v) for k, v in r_ref.items()
    )
    assert du < 1e-6, f"user belief diff {du}"
    assert dp < 1e-6, f"prod belief diff {dp}"
    assert dr < 1e-6, f"review belief diff {dr}"


# ------------------------------------------------- Prior / ground truth

def test_scale_value_bug_and_intent(ref, ref_graph):
    """helper.py:66-86 scale_value: the ``else`` at :83 binds to the FOR
    (for-else), so only keys whose scaled value is exactly 0 or 1 — plus
    whichever key iterated last — make it into the output. The engine
    implements the documented intent; equality is asserted on the keys
    the reference actually emits."""
    helper = ref["helper"]
    edges, g, maps = ref_graph
    rpriors = helper.edge_attr_filter(g, "types", "review", "prior")
    out = helper.scale_value(rpriors)
    vals = list(rpriors.values())
    mx, mn = max(vals), min(vals)
    intent = {k: (v - mn) / (mx - mn) for k, v in rpriors.items()}
    intent = {
        k: 1e-7 if v == 0 else (1 - 1e-7 if v == 1 else v)
        for k, v in intent.items()
    }
    # the bug drops all mid-range keys except the last-iterated one
    last_key = list(rpriors)[-1]
    expected_keys = {k for k, v in intent.items() if v in (1e-7, 1 - 1e-7)}
    expected_keys.add(last_key)
    assert set(out) == expected_keys
    for k in out:
        assert abs(out[k] - intent[k]) < 1e-15


def test_ground_truth_parity(ref, ref_graph, spark):
    from ugfraud_spark.operators import evalmetrics
    from ugfraud_spark.sources import tables

    helper = ref["helper"]
    edges, g, maps = ref_graph
    # user_data dict shaped like read_graph_data's output: label -1 = spam
    user_data: dict = {}
    for s, d, sg in edges:
        user_data.setdefault(maps["u_map"][s], []).append(
            (maps["p_map"][d], float(sg), -1 if sg == 2 else 1, "2020-01-01")
        )
    u_gt, r_gt = helper.create_ground_truth(user_data)
    ref_gt = {maps["u_inv"][k]: v for k, v in u_gt.items()}

    e = tables.bipartite_edges(spark, SF_SMALL)
    eng = {r["id"]: r["gt"]
           for r in evalmetrics.ground_truth_users(e).collect()}
    assert eng == ref_gt


def test_svd_classify_svc_parity(ref, spark):
    """The VERBATIM reference classify stage (SVD.py:97-102
    classify_binary: svm.SVC().fit/predict through the sklearn shim's
    deterministic linear-kernel SVC) must agree with the engine's
    distributed svm_classify on the SAME embedding and split. The
    linear kernel is the documented substitution for sklearn's RBF
    default (SURVEY §7 / VERDICT r2 #5); both optimizers implement the
    same published spec independently, and the fit is provably
    equivariant under the embedding's sign/rotation ambiguity."""
    import numpy as np

    from ugfraud_spark.operators import evalmetrics, svd as svd_op
    from ugfraud_spark.sources import tables

    e = tables.bipartite_edges(spark, SF_SMALL)
    emb, _s = svd_op.svd_user_embedding(e, percent=0.2)
    gt = evalmetrics.ground_truth_users(e).withColumnRenamed("gt", "label")
    lab = emb.join(gt, emb.src == gt.id).select("id", "comps", "label")
    split = svd_op.random_split(lab)
    train = split.where(F.col("is_train"))
    test = split.where(~F.col("is_train"))

    # engine path: driver fit + distributed margin scoring
    eng = {r["id"]: r["pred_label"]
           for r in svd_op.svm_classify(train, test).collect()}

    # reference path: marshal the same matrices the reference would and
    # run its classify_binary verbatim (labels ±1 as evaluate_SVD builds)
    tr = train.select("id", "comps", "label").orderBy("id").toPandas()
    te = test.select("id", "comps", "label").orderBy("id").toPandas()
    sv_cls = ref["SVD"].SVD.__new__(ref["SVD"].SVD)  # no graph build needed
    preds = sv_cls.classify_binary(
        np.asarray(tr["comps"].tolist()),
        2 * tr["label"].to_numpy() - 1,
        np.asarray(te["comps"].tolist()),
        2 * te["label"].to_numpy() - 1,
    )
    ref_preds = {int(i): int(p > 0) for i, p in zip(te["id"], preds)}
    assert eng == ref_preds

    # the exact-equality gate is only safe because no test point sits
    # near the boundary: assert the minimum |decision| dwarfs any
    # plausible cross-implementation float drift (measured ~0.95 at
    # sf0.01; drift between the independent optimizers is ≤1e-9)
    clf = __import__("sklearn.svm", fromlist=["SVC"]).SVC()
    clf.fit(np.asarray(tr["comps"].tolist()), 2 * tr["label"].to_numpy() - 1)
    min_margin = np.abs(
        clf.decision_function(np.asarray(te["comps"].tolist()))
    ).min()
    assert min_margin > 1e-2, (
        f"svd_classify margin {min_margin} too thin for an exact-match "
        "oracle — revisit the gate before it flakes"
    )
