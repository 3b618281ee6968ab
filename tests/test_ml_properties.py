"""Property-based tests (hypothesis) for the ML/stats operator family.

The strongest determinism pin available: a pure-Python reference that
replays the EXACT rounding sequence (quantize -> integer distance ->
float-division mean -> floor requantization) and must match the
distributed operator bit-for-bit on arbitrary inputs. k-means and the
correlation matrix qualify (their float ops are mul/div/sqrt/floor, all
IEEE-correctly-rounded and therefore engine- and host-portable); the
ln-based operators (NB, TF-IDF) are pinned by invariants instead — libm
ln is not guaranteed identical across runtimes, so a pure-Python ln replay would be asserting
more than the engines themselves promise each other (their cross-engine
agreement is pinned empirically by the DuckDB oracle gate at 3 SFs).
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_lealone_spark.operators.clustering import kmeans_cluster_profile
from etl_lealone_spark.operators.stats import exact_corr_matrix

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# values of the form i/16 are exact in float32 AND float64, so the
# float->double cast inside quantize() is the identity on them
_COMP = st.integers(min_value=-160, max_value=160).map(lambda i: i / 16.0)


def _q(x: float) -> int:
    return math.floor(x * 1000000.0 + 0.5)


def _ref_kmeans(vectors, labels, k, iters):
    """Pure-Python replay of kmeans_cluster_profile's exact semantics."""
    qv = [[_q(c) for c in v] for v in vectors]
    cents = [(cid, list(qv[cid])) for cid in range(k)]

    def assign(v):
        best = None
        for cid, c in cents:
            d = sum((a - b) * (a - b) for a, b in zip(v, c))
            if best is None or (d, cid) < best:
                best = (d, cid)
        return best  # (dist, cid)

    for _ in range(max(0, iters - 1)):
        groups: dict[int, list[list[int]]] = {}
        for v in qv:
            _, cid = assign(v)
            groups.setdefault(cid, []).append(v)
        cents = [
            (
                cid,
                [
                    math.floor(
                        float(sum(m[p] for m in members)) / float(len(members))
                        + 0.5
                    )
                    for p in range(len(members[0]))
                ],
            )
            for cid, members in sorted(groups.items())
        ]
    prof: dict[int, dict] = {}
    for i, v in enumerate(qv):
        d, cid = assign(v)
        p = prof.setdefault(
            cid, {"n": 0, "sum_id": 0, "inertia": 0, "labs": {}}
        )
        p["n"] += 1
        p["sum_id"] += i
        p["inertia"] += d
        p["labs"][labels[i]] = p["labs"].get(labels[i], 0) + 1
    out = []
    for cid, p in sorted(prof.items()):
        n_maj, neg_lab = max((c, -l) for l, c in p["labs"].items())
        out.append(
            (
                cid,
                p["n"],
                p["sum_id"],
                p["inertia"],
                -neg_lab,
                math.floor(float(n_maj) * 1000000.0 / float(p["n"])),
            )
        )
    return out


@given(
    data=st.lists(
        st.tuples(
            st.lists(_COMP, min_size=3, max_size=3),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=4,
        max_size=16,
    ),
    k=st.integers(min_value=2, max_value=3),
)
@settings(**_SETTINGS)
def test_kmeans_matches_pure_python_reference(spark, data, k):
    if len(data) < k:
        data = data + data[: k - len(data)]
    vectors = [d[0] for d in data]
    labels = [d[1] for d in data]
    df = spark.createDataFrame(
        [(i, vectors[i], labels[i]) for i in range(len(data))],
        "vec_id long, embedding array<float>, label int",
    )
    got = sorted(
        tuple(r)
        for r in kmeans_cluster_profile(df, k=k, iters=2).collect()
    )
    want = sorted(_ref_kmeans(vectors, labels, k, iters=2))
    assert got == want


def _ref_corr(rows, cols, scale=100):
    q = [[math.floor(r[i] * scale + 0.5) for i in range(len(cols))] for r in rows]
    n = len(q)
    out = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            s_a = sum(r[i] for r in q)
            s_b = sum(r[j] for r in q)
            s_ab = sum(r[i] * r[j] for r in q)
            s_aa = sum(r[i] * r[i] for r in q)
            s_bb = sum(r[j] * r[j] for r in q)
            num = float(n * s_ab - s_a * s_b)
            va = float(n * s_aa - s_a * s_a)
            vb = float(n * s_bb - s_b * s_b)
            if va > 0 and vb > 0:
                corr = math.floor(
                    num / (math.sqrt(va) * math.sqrt(vb)) * 1000000.0 + 0.5
                )
            else:
                corr = None
            out.append((cols[i], cols[j], n, corr))
    return sorted(out)


_CENTS = st.integers(min_value=-10000, max_value=10000).map(lambda i: i / 100.0)


@given(
    rows=st.lists(
        st.tuples(_CENTS, _CENTS, _CENTS), min_size=2, max_size=20
    )
)
@settings(**_SETTINGS)
def test_corr_matrix_matches_pure_python_reference(spark, rows):
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = sorted(
        tuple(r) for r in exact_corr_matrix(df, ["x", "y", "z"]).collect()
    )
    want = _ref_corr(rows, ["x", "y", "z"])
    assert got == want


# ---------------------------------------------------------------------------
# invariants for the ln-based operators (bit-identity is pinned
# empirically by the 3-SF oracle gate; here: structure on random input)
# ---------------------------------------------------------------------------
_WORD = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
)
_TEXT = st.lists(_WORD, min_size=0, max_size=8).map(" ".join)


@given(
    docs=st.lists(
        st.tuples(_TEXT, st.sampled_from(["aa", "bb", "cc"])),
        min_size=2,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_nb_confusion_accounts_every_tokenful_test_doc(spark, docs):
    from etl_lealone_spark.operators.classify import nb_class_confusion

    rows = [(i, t, c) for i, (t, c) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train_has_tokens = any(i % 2 == 0 and t.strip() for i, (t, c) in enumerate(docs))
    if not train_has_tokens:
        return  # no trainable model; scoring set is empty by construction
    conf = nb_class_confusion(df, class_col="lang").collect()
    train_classes = {c for i, (t, c) in enumerate(docs) if i % 2 == 0 and t.strip()}
    n_test = sum(
        1
        for i, (t, c) in enumerate(docs)
        if i % 2 == 1 and t.strip()
    )
    assert sum(r["n_docs"] for r in conf) == n_test
    for r in conf:
        assert r["pred_class"] in train_classes


@given(
    texts=st.lists(_TEXT, min_size=1, max_size=12)
)
@settings(**_SETTINGS)
def test_tfidf_rank_and_tf_invariants(spark, texts):
    from etl_lealone_spark.operators.classify import tfidf_doc_keywords

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = tfidf_doc_keywords(df, n_docs=len(texts), top=3).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
        # tf is a real count of that term in that doc
        words = texts[r["doc_id"]].split()
        assert r["tf"] == sum(1 for w in words if w == r["term"])
        assert r["score_x1e6"] > 0  # idf >= 1e6 and tf >= 1
    for doc_rows in per_doc.values():
        assert len(doc_rows) <= 3
        scores = [r["score_x1e6"] for r in doc_rows]
        assert scores == sorted(scores, reverse=True)


def _md5_bucket(w: str, buckets: int = 4096) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % buckets


@given(
    docs=st.lists(
        st.tuples(_TEXT, st.sampled_from(["aa", "bb"])),
        min_size=4,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_chi2_contingency_counts_are_exact(spark, docs):
    from etl_lealone_spark.operators.classify import chi2_top_terms

    rows = [(i, t, c) for i, (t, c) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = chi2_top_terms(df, class_col="lang", top=100).collect()
    # recompute the exact (cls, bucket) token counts in pure Python and
    # confirm every output row corresponds to a real observed pair
    counts: dict[tuple[str, int], int] = {}
    for i, (t, c) in enumerate(docs):
        for w in t.split():
            if w:
                b = _md5_bucket(w)
                counts[(c, b)] = counts.get((c, b), 0) + 1
    for r in out:
        assert (r["cls"], r["bucket"]) in counts
        assert r["chi2_x1e3"] >= 0


# ---------------------------------------------------------------------------
# logistic regression (operators/logreg.py): pure-Python bit replay —
# its float ops are cast/mul/div/abs/floor only (the fast-sigmoid link
# exists precisely so exp never enters), so the replay contract applies
# ---------------------------------------------------------------------------
def _ref_sigmoid_x1e6(dot: int) -> int:
    z = float(dot) / 1.0e12
    p = 0.5 + z / (2.0 * (1.0 + abs(z)))
    return math.floor(p * 1.0e6 + 0.5)


def _ref_logreg_probe(vectors, labels, target, dims, iters, lr_num, lr_den):
    qv = [
        [_q(v[i]) for i in range(dims)] + [1_000_000] for v in vectors
    ]
    ys = [1 if lab == target else 0 for lab in labels]
    d1 = dims + 1
    n = len(qv)
    w = [0] * d1
    for _ in range(iters):
        g = [0] * d1
        for x, y in zip(qv, ys):
            dot = sum(xj * wj for xj, wj in zip(x, w))
            r = y * 1_000_000 - _ref_sigmoid_x1e6(dot)
            for j in range(d1):
                g[j] += r * x[j]
        w = [
            w[j]
            + math.floor(
                (float(g[j]) * lr_num)
                / ((float(n) * 1.0e6) * lr_den)
                + 0.5
            )
            for j in range(d1)
        ]
    per_label: dict[int, list] = {}
    for x, lab in zip(qv, labels):
        dot = sum(xj * wj for xj, wj in zip(x, w))
        s = _ref_sigmoid_x1e6(dot)
        e = per_label.setdefault(lab, [0, 0, 0])
        e[0] += 1
        e[1] += 1 if dot >= 0 else 0
        e[2] += s
    return sorted(
        (lab, e[0], e[1], math.floor(float(e[2]) / float(e[0])))
        for lab, e in per_label.items()
    )


@given(
    data=st.lists(
        st.tuples(
            st.lists(_COMP, min_size=4, max_size=4),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=3,
        max_size=14,
    ),
    lr_num=st.sampled_from([1, 4, 64]),
)
@settings(**_SETTINGS)
def test_logreg_matches_pure_python_reference(spark, data, lr_num):
    from etl_lealone_spark.operators.logreg import logreg_label_probe

    vectors = [d[0] for d in data]
    labels = [d[1] for d in data]
    df = spark.createDataFrame(
        [(i, vectors[i], labels[i]) for i in range(len(data))],
        "vec_id long, embedding array<float>, label int",
    )
    got = sorted(
        tuple(r)
        for r in logreg_label_probe(
            df, target_label=0, dims=3, iters=2, lr_num=lr_num
        ).collect()
    )
    want = _ref_logreg_probe(
        vectors, labels, target=0, dims=3, iters=2, lr_num=lr_num, lr_den=1
    )
    assert got == want


# ---------------------------------------------------------------------------
# grouped OLS (operators/stats.grouped_ols): closed-form Cramer solve in
# a pinned double sequence — mul/sub/add/div only, so the replay
# contract applies
# ---------------------------------------------------------------------------
def _ref_ols(rows, y_scale=100, x1_scale=1, x2_scale=100):
    groups: dict = {}
    for g, y, x1, x2 in rows:
        qy = math.floor(y * float(y_scale) + 0.5)
        q1 = math.floor(x1 * float(x1_scale) + 0.5)
        q2 = math.floor(x2 * float(x2_scale) + 0.5)
        m = groups.setdefault(
            g, dict(n=0, sx1=0, sx2=0, sy=0, s11=0, s12=0, s22=0,
                    s1y=0, s2y=0, syy=0)
        )
        m["n"] += 1
        m["sx1"] += q1
        m["sx2"] += q2
        m["sy"] += qy
        m["s11"] += q1 * q1
        m["s12"] += q1 * q2
        m["s22"] += q2 * q2
        m["s1y"] += q1 * qy
        m["s2y"] += q2 * qy
        m["syy"] += qy * qy
    out = []
    for g, m in groups.items():
        n, sx1, sx2, sy = (
            float(m["n"]), float(m["sx1"]), float(m["sx2"]), float(m["sy"])
        )
        s11, s12, s22 = float(m["s11"]), float(m["s12"]), float(m["s22"])
        s1y, s2y, syy = float(m["s1y"]), float(m["s2y"]), float(m["syy"])
        det = (
            n * (s11 * s22 - s12 * s12)
            - sx1 * (sx1 * s22 - s12 * sx2)
            + sx2 * (sx1 * s12 - s11 * sx2)
        )
        if det == 0.0:
            out.append((g, m["n"], None, None, None, None))
            continue
        d0 = (
            sy * (s11 * s22 - s12 * s12)
            - sx1 * (s1y * s22 - s12 * s2y)
            + sx2 * (s1y * s12 - s11 * s2y)
        )
        d1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (sx1 * s22 - s12 * sx2)
            + sx2 * (sx1 * s2y - s1y * sx2)
        )
        d2 = (
            n * (s11 * s2y - s1y * s12)
            - sx1 * (sx1 * s2y - s1y * sx2)
            + sy * (sx1 * s12 - s11 * sx2)
        )
        b0, b1, b2 = d0 / det, d1 / det, d2 / det
        ss_tot = syy - (sy * sy) / n
        ss_res = syy - (b0 * sy + b1 * s1y + b2 * s2y)
        r2 = (
            math.floor((1.0 - ss_res / ss_tot) * 1000000.0 + 0.5)
            if ss_tot > 0.0
            else None
        )
        out.append(
            (
                g,
                m["n"],
                math.floor(b0 * 1000000.0 + 0.5),
                math.floor(b1 * 1000000.0 + 0.5),
                math.floor(b2 * 1000000.0 + 0.5),
                r2,
            )
        )
    return sorted(out)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            _COMP,
            st.integers(min_value=1, max_value=40).map(float),
            _COMP,
        ),
        min_size=6,
        max_size=24,
    )
)
@settings(**_SETTINGS)
def test_grouped_ols_matches_pure_python_reference(spark, rows):
    from etl_lealone_spark.operators.stats import grouped_ols

    df = spark.createDataFrame(
        rows, "g int, y double, x1 double, x2 double"
    )
    got = sorted(
        tuple(r)
        for r in grouped_ols(
            df, y_col="y", x1_col="x1", x2_col="x2", group_cols=["g"]
        ).collect()
    )
    assert got == _ref_ols(rows)
