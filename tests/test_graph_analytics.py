"""pagerank_integer, repetition_stats, mixture_plan."""

import math

from pyspark.sql import functions as F

from glinerswift_spark.operators.graph import PAGERANK_SCALE, pagerank_integer
from glinerswift_spark.operators.sampling import mixture_plan
from glinerswift_spark.operators.textstats import repetition_stats


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, "src_id string, dst_id string, weight long"
    )


def test_pagerank_symmetric_cycle_uniform(spark):
    # a -> b -> c -> a: perfectly symmetric, every rank stays exactly at
    # the fixed point scale*1.0 (base 0.15 + 0.85 * full inflow).
    out = pagerank_integer(
        _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)]), iters=4
    )
    rows = {r["node"]: r["rank_int"] for r in out.collect()}
    assert rows == {"a": PAGERANK_SCALE, "b": PAGERANK_SCALE, "c": PAGERANK_SCALE}


def test_pagerank_matches_float_reference_and_orders_hubs(spark):
    # star + chain: 3 leaves point at hub; hub points at tail.
    edges = [("l1", "hub", 1), ("l2", "hub", 1), ("l3", "hub", 1),
             ("hub", "tail", 2)]
    out = {
        r["node"]: (r["rank_int"], r["rank"])
        for r in pagerank_integer(_edges(spark, edges), iters=5).collect()
    }
    # float twin (no dangling redistribution, same damping/iterations)
    nodes = ["l1", "l2", "l3", "hub", "tail"]
    outw = {"l1": 1, "l2": 1, "l3": 1, "hub": 2}
    r = {n: 1.0 for n in nodes}
    for _ in range(5):
        inflow = {n: 0.0 for n in nodes}
        for s, d, w in [(e[0], e[1], e[2]) for e in edges]:
            inflow[d] += r[s] * w / outw[s]
        r = {n: 0.15 + 0.85 * inflow[n] for n in nodes}
    for n in nodes:
        # fixed-point truncation error: one ulp of 1/scale per div, a
        # handful of divs deep -> generous 1e-6 relative tolerance
        assert math.isclose(out[n][0] / PAGERANK_SCALE, r[n], rel_tol=1e-6), n
    # hub's entire mass flows to its single successor: tail > hub > leaves
    assert out["tail"][0] > out["hub"][0] > out["l1"][0]
    # leaves are symmetric -> bit-identical ranks
    assert out["l1"][0] == out["l2"][0] == out["l3"][0]


def test_pagerank_parallel_edges_collapse_before_division(spark):
    # two parallel a->b edges must contribute like one weight-2 edge
    collapsed = pagerank_integer(
        _edges(spark, [("a", "b", 2), ("a", "c", 1)]), iters=2
    )
    parallel = pagerank_integer(
        _edges(spark, [("a", "b", 1), ("a", "b", 1), ("a", "c", 1)]), iters=2
    )
    assert sorted(map(tuple, collapsed.collect())) == sorted(
        map(tuple, parallel.collect())
    )


def test_repetition_stats_flags_repeats(spark):
    clean = " ".join(f"w{i}" for i in range(60))          # 60 distinct words
    spam = " ".join(["buy now"] * 30)                      # one bigram, 60 tokens
    short = "tiny doc"
    df = spark.createDataFrame(
        [(1, clean), (2, spam), (3, short)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["keep"] and rows[1]["top_word_frac"] < 0.02
    assert not rows[2]["keep"]
    assert rows[2]["top_word_frac"] == 0.5  # 'buy' and 'now' 30x each / 60
    # 'now buy' appears 29x of 59 bigrams
    assert abs(rows[2]["top_bigram_frac"] - round(30 / 59, 6)) < 1e-9
    assert not rows[3]["keep"] and rows[3]["n_tokens"] == 2


def test_mixture_plan_caps_and_fractions(spark):
    df = spark.createDataFrame(
        [(i, "a b c d", "en" if i < 8 else "de") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    # en: 8 docs * 4 tokens = 32; de: 2 * 4 = 8
    plan = {
        r["lang"]: r
        for r in mixture_plan(
            df, "lang", {"en": 50, "de": 50}, token_budget=32
        ).collect()
    }
    assert plan["en"]["stratum_tokens"] == 32
    assert plan["en"]["planned_tokens"] == 16 and plan["en"]["sample_frac"] == 0.5
    # de wants 16 but only has 8 -> capped, frac 1.0
    assert plan["de"]["planned_tokens"] == 8 and plan["de"]["sample_frac"] == 1.0


def test_triangle_counts_known_graph(spark):
    # K4 on {a,b,c,d} (every node in C(3,2)=3 triangles) plus a pendant
    # edge d-e (e in none) and noise the op must ignore: a parallel
    # reversed edge, a self-loop, and per-predicate duplicates.
    from glinerswift_spark.operators.graph import triangle_counts

    k4 = [(u, v, 1) for u in "abcd" for v in "abcd" if u < v]
    edges = _edges(
        spark,
        k4
        + [("d", "e", 1), ("b", "a", 9), ("c", "c", 1), ("a", "b", 2)],
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_triangle_counts_no_triangles(spark):
    from glinerswift_spark.operators.graph import triangle_counts

    # a path graph has zero triangles but every node must still appear
    out = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(
            _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)])
        ).collect()
    }
    assert out == {"a": 0, "b": 0, "c": 0, "d": 0}


def test_triangle_counts_hub_orientation(spark):
    # star hub h with 6 leaves + one closed pair (l1, l2): exactly ONE
    # triangle. Degree orientation must point leaf->hub (leaves have
    # degree 1-2, hub 6), so the hub builds NO wedge fan-out — the
    # skew-safety property the docstring claims.
    from glinerswift_spark.operators.graph import triangle_counts

    edges = _edges(
        spark,
        [("h", f"l{i}", 1) for i in range(1, 7)] + [("l1", "l2", 1)],
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out["h"] == 1 and out["l1"] == 1 and out["l2"] == 1
    assert all(out[f"l{i}"] == 0 for i in range(3, 7))


def test_url_parts_and_domain_stats(spark):
    from glinerswift_spark.operators.weburl import domain_stats, with_url_parts

    df = spark.createDataFrame(
        [
            (1, "https://news.example.com/world/eu/story1?utm=x#frag", "en", 100),
            (2, "https://news.example.com/world/", "en", 50),
            (3, "http://blog.example.de/post", "de", 30),
            (4, "https://example.net", "en", 10),  # no path at all
        ],
        "doc_id long, url string, lang string, n_chars long",
    )
    parts = {r["doc_id"]: r for r in with_url_parts(df).collect()}
    assert parts[1]["host"] == "news.example.com"
    assert parts[1]["tld"] == "com"
    assert parts[1]["path"] == "/world/eu/story1"
    assert parts[1]["path_depth"] == 3
    assert parts[2]["path"] == "/world/"  # trailing slash counts
    assert parts[2]["path_depth"] == 2
    assert parts[4]["path"] == "" and parts[4]["path_depth"] == 0

    stats = {r["host"]: r for r in domain_stats(df).collect()}
    assert stats["news.example.com"]["n_pages"] == 2
    assert stats["news.example.com"]["total_chars"] == 150
    assert stats["news.example.com"]["max_depth"] == 3
    assert stats["blog.example.de"]["tld"] == "de"


def test_triangle_counts_matches_bruteforce_random(spark):
    """Seeded random multigraphs vs a pure-python brute force — pins the
    orientation algebra (each triangle counted once, at every corner)."""
    import itertools
    import random

    from glinerswift_spark.operators.graph import triangle_counts

    rng = random.Random(1234)
    for trial in range(3):
        n = rng.randint(5, 12)
        nodes = [f"n{i}" for i in range(n)]
        edges = []
        for u, v in itertools.combinations(nodes, 2):
            if rng.random() < 0.45:
                edges.append((u, v, rng.randint(1, 3)))
                if rng.random() < 0.2:
                    edges.append((v, u, 1))  # reversed duplicate
        if not edges:
            continue
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(_edges(spark, edges)).collect()
        }
        adj = {x: set() for x in nodes}
        und = {(min(u, v), max(u, v)) for u, v, _ in edges if u != v}
        for u, v in und:
            adj[u].add(v)
            adj[v].add(u)
        want = {
            x: sum(
                1
                for a, b in itertools.combinations(sorted(adj[x]), 2)
                if b in adj[a]
            )
            for x in nodes
            if adj[x]
        }
        assert got == want, f"trial {trial}"


def test_label_propagation_two_cliques(spark):
    # two 3-cliques joined by one bridge edge: LPA must settle each
    # clique on its min node id, and the bridge must not merge them
    # (each bridge endpoint has 2 same-clique neighbors vs 1 across).
    from glinerswift_spark.operators.graph import label_propagation

    edges = [("a1", "a2", 1), ("a1", "a3", 1), ("a2", "a3", 1),
             ("b1", "b2", 1), ("b1", "b3", 1), ("b2", "b3", 1),
             ("a3", "b1", 1)]
    out = {
        r["node"]: r["community"]
        for r in label_propagation(_edges(spark, edges), iters=4).collect()
    }
    assert {out["a1"], out["a2"], out["a3"]} == {out["a1"]}
    assert {out["b1"], out["b2"], out["b3"]} == {out["b1"]}
    assert out["a1"] != out["b1"]


def test_label_propagation_deterministic_and_direction_blind(spark):
    from glinerswift_spark.operators.graph import label_propagation

    edges = [("x", "y", 1), ("y", "z", 1), ("z", "w", 1)]
    a = sorted(label_propagation(_edges(spark, edges), iters=3).collect())
    # reversed directions + duplicate parallel edge: identical result
    rev = [("y", "x", 1), ("z", "y", 1), ("w", "z", 1), ("x", "y", 9)]
    b = sorted(label_propagation(_edges(spark, rev), iters=3).collect())
    assert a == b
    # rerun is bit-identical (determinism)
    c = sorted(label_propagation(_edges(spark, edges), iters=3).collect())
    assert a == c


def test_label_propagation_matches_bruteforce_random(spark):
    # synchronous min-tie-break LPA has a trivial python twin: assert
    # equality on a seeded random graph (the operator's SQL-replay
    # semantics, checked a third way).
    import random

    from glinerswift_spark.operators.graph import label_propagation

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = sorted({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)
    })
    iters = 4
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lab = {n: n for n in adj}
    for _ in range(iters):
        new = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            new[n] = best[0]
        lab = new
    out = {
        r["node"]: r["community"]
        for r in label_propagation(
            _edges(spark, [(u, v, 1) for u, v in edges]), iters=iters
        ).collect()
    }
    assert out == lab


def test_vocab_stats_and_tfidf_keywords(spark):
    from glinerswift_spark.operators.textstats import (
        TFIDF_IDF_SCALE,
        tfidf_keywords,
        vocab_stats,
    )

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple  date")],
        "doc_id int, text string",
    )
    vs = {r["term"]: (r["tf"], r["df"]) for r in vocab_stats(docs).collect()}
    # double space in doc 3 produces an empty split token: must be dropped
    assert "" not in vs
    assert vs == {"apple": (3, 2), "banana": (2, 2), "cherry": (1, 1),
                  "date": (1, 1)}
    # top_n cutoff uses the (tf desc, term asc) total order
    top2 = [r["term"] for r in vocab_stats(docs, top_n=2).collect()]
    assert top2 == ["apple", "banana"]

    kw = tfidf_keywords(docs, k=1).collect()
    got = {r["doc_id"]: (r["term"], r["score_int"]) for r in kw}
    # doc 1: apple tf=2 df=2 -> 2*(3M//2)=3M; banana tf=1 -> 1.5M
    assert got[1] == ("apple", 2 * ((TFIDF_IDF_SCALE * 3) // 2))
    # doc 2: cherry df=1 beats banana df=2 at equal tf
    assert got[2][0] == "cherry"
    assert got[3][0] == "date"


def test_metapath2_counts_matches_bruteforce(spark):
    # the sum-of-products formulation must equal naive path enumeration
    from itertools import product

    from glinerswift_spark.operators.graph import metapath2_counts

    edges = [("a", "likes", "hub", 2), ("b", "cites", "hub", 1),
             ("hub", "links", "x", 3), ("hub", "cites", "y", 1),
             ("x", "links", "y", 5)]
    want = {}
    for (s1, p1, d1, w1), (s2, p2, d2, w2) in product(edges, edges):
        if d1 == s2:
            k = (s1, p1, p2)
            want[k] = want.get(k, 0) + w1 * w2
    got = {
        (r["node"], r["pred_a"], r["pred_b"]): r["n_paths"]
        for r in metapath2_counts(
            spark.createDataFrame(
                edges, "src_id string, pred string, dst_id string, weight long"
            )
        ).collect()
    }
    assert got == want


def test_kcore_peels_chain_cascade(spark):
    from glinerswift_spark.operators.graph import kcore_nodes

    # triangle with a pendant chain: 2-core must peel the chain one node
    # per round (cascade) and keep exactly the triangle
    edges = [("a", "b", 1), ("b", "c", 1), ("a", "c", 1),
             ("c", "d", 1), ("d", "e", 1), ("e", "f", 1)]
    out = {r["node"]: r["core_deg"] for r in kcore_nodes(
        _edges(spark, edges), k=2, rounds=4
    ).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}
    # rounds too few for the cascade length -> documented partial peel
    partial = {r["node"] for r in kcore_nodes(
        _edges(spark, edges), k=2, rounds=1
    ).collect()}
    assert partial == {"a", "b", "c", "d", "e"}


def test_kcore_matches_bruteforce_random(spark):
    import random

    from glinerswift_spark.operators.graph import kcore_nodes

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(24)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(55)})
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    # python twin: synchronous peeling to fixed point
    alive = set(adj)
    while True:
        deg = {n: len(adj[n] & alive) for n in alive}
        nxt = {n for n in alive if deg[n] >= 3}
        if nxt == alive:
            break
        alive = nxt
    want = {n: len(adj[n] & alive) for n in alive}
    got = {r["node"]: r["core_deg"] for r in kcore_nodes(
        _edges(spark, [(u, v, 1) for u, v in edges]), k=3, rounds=8
    ).collect()}
    assert got == want


def test_kcore_fixpoint_beats_bounded_rounds(spark):
    """rounds=None must peel a cascade LONGER than any fixed round
    count: pendant chain of 8 off a triangle — 2-core cascade deletes
    one chain node per round, so rounds=4 over-reports while the
    fixed-point path (used by jobs/run_kg.py --analytics for the
    published kcore3 artifact) returns exactly the triangle."""
    from glinerswift_spark.operators.graph import kcore_nodes

    chain = ["c", "d", "e", "f", "g", "h", "i", "j", "k"]
    edges = [("a", "b", 1), ("b", "c", 1), ("a", "c", 1)] + [
        (chain[i], chain[i + 1], 1) for i in range(len(chain) - 1)
    ]
    bounded = {r["node"] for r in kcore_nodes(
        _edges(spark, edges), k=2, rounds=4
    ).collect()}
    assert bounded > {"a", "b", "c"}  # upper bound only: cascade unfinished
    exact = {r["node"]: r["core_deg"] for r in kcore_nodes(
        _edges(spark, edges), k=2, rounds=None
    ).collect()}
    assert exact == {"a": 2, "b": 2, "c": 2}


def test_canonical_url_and_dedup(spark):
    from glinerswift_spark.operators.weburl import canonical_url_expr, url_dedup

    cases = [
        (1, "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&q=1&fbclid=z#frag"),
        (2, "https://www.example.com/Path?q=1"),
        (3, "http://example.com:80"),
        (4, "https://example.com/a/b/"),
        (5, "https://example.com/a/b"),
        # tracking-param strip must anchor on the ?/& separator: 'ref='
        # inside a LONGER param name (href=, xref=, pref=) or a path
        # segment is payload, not tracking (round-3 advice item)
        (6, "https://example.com/x?href=a"),
        (7, "https://example.com/x?href=b"),
        (8, "https://example.com/ref=seg/page?pref=dark&ref=tw"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, url string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", canonical_url_expr("url").alias("c")).collect()
    }
    # scheme+host lowercased, :443 stripped, utm/fbclid stripped with
    # separator cleanup, fragment stripped, trailing slash normalized —
    # path case PRESERVED
    assert got[1] == "https://www.example.com/Path?q=1"
    assert got[1] == got[2]
    assert got[3] == "http://example.com/"   # empty path -> '/'
    assert got[4] == got[5] == "https://example.com/a/b"
    # href=a / href=b stay distinct (unanchored 'ref=' would collapse both
    # to '?h'); path 'ref=seg' and param 'pref=dark' survive, real 'ref=tw'
    # is stripped with separator cleanup
    assert got[6] == "https://example.com/x?href=a"
    assert got[7] == "https://example.com/x?href=b"
    assert got[8] == "https://example.com/ref=seg/page?pref=dark"

    dedup = {
        (r["canonical_url"], r["n_urls"], r["keeper"])
        for r in url_dedup(df).collect()
    }
    assert ("https://www.example.com/Path?q=1", 2, 1) in dedup
    assert ("https://example.com/a/b", 2, 4) in dedup


def test_edge_diff_statuses(spark):
    from glinerswift_spark.operators.graph import edge_diff

    ddl = "src_id string, pred string, dst_id string, weight long"
    old = spark.createDataFrame(
        [("a", "p", "b", 3), ("a", "p", "c", 1), ("x", "q", "y", 2)], ddl
    )
    new = spark.createDataFrame(
        [("a", "p", "b", 5), ("a", "p", "d", 1)], ddl
    )
    got = {
        (r["src_id"], r["pred"], r["dst_id"]): (
            r["status"], r["weight_old"], r["weight_new"]
        )
        for r in edge_diff(old, new).collect()
    }
    assert got == {
        ("a", "p", "b"): ("kept", 3, 5),
        ("a", "p", "c"): ("removed", 1, 0),
        ("x", "q", "y"): ("removed", 2, 0),
        ("a", "p", "d"): ("added", 0, 1),
    }


def test_host_quality_gate_semantics(spark):
    from glinerswift_spark.operators.weburl import host_quality_gate

    rows = [
        # bad.com: 3 pages averaging 0.30 -> condemned
        (1, "https://bad.com/a", 0.3), (2, "https://bad.com/b", 0.3),
        (3, "https://bad.com/c", 0.3),
        # good.com: high quality -> kept
        (4, "https://good.com/a", 0.9), (5, "https://good.com/b", 0.9),
        (6, "https://good.com/c", 0.9),
        # tiny.com: low quality but only 1 page -> benefit of the doubt
        (7, "https://tiny.com/a", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, quality double")
    got = {
        r["host"]: (r["n_pages"], r["avg_q_int"], r["keep"])
        for r in host_quality_gate(df, min_avg_scaled=500_000, min_pages=3).collect()
    }
    assert got["bad.com"] == (3, 300_000, False)
    assert got["good.com"] == (3, 900_000, True)
    assert got["tiny.com"] == (1, 100_000, True)


def test_span_prf_exact_match_scoring(spark):
    from glinerswift_spark.operators.metrics import span_prf

    ddl = "doc_id long, label string, entity string, start int, end int"
    gold = spark.createDataFrame(
        [(1, "per", "alice", 0, 5), (1, "per", "bob", 10, 13),
         (2, "org", "acme", 0, 4), (2, "org", "acme", 0, 4)],  # dup -> set
        ddl,
    )
    pred = spark.createDataFrame(
        [(1, "per", "alice", 0, 5),        # tp
         (1, "per", "alice", 1, 6),        # fp (offset off by one)
         (2, "org", "acme", 0, 4),         # tp
         (3, "loc", "paris", 0, 5)],       # fp on a label gold lacks
        ddl,
    )
    got = {r["label"]: r for r in span_prf(pred, gold).collect()}
    per = got["per"]
    assert (per["tp"], per["n_pred"], per["n_gold"]) == (1, 2, 2)
    assert per["precision"] == 0.5 and per["recall"] == 0.5 and per["f1"] == 0.5
    org = got["org"]
    assert (org["tp"], org["n_pred"], org["n_gold"]) == (1, 1, 1)
    assert org["f1"] == 1.0
    loc = got["loc"]
    assert (loc["n_gold"], loc["precision"], loc["recall"], loc["f1"]) == (0, 0.0, 0.0, 0.0)


def test_negative_samples_contract(spark):
    from glinerswift_spark.operators.graph import negative_samples

    ddl = "src_id string, pred string, dst_id string, weight long"
    edges = spark.createDataFrame(
        [("a", "p", "b", 1), ("a", "p", "c", 1), ("b", "p", "c", 1),
         ("c", "q", "d", 1)],
        ddl,
    )
    out = negative_samples(edges, k=3).collect()
    positives = {("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c"),
                 ("c", "q", "d")}
    nodes = {"a", "b", "c", "d"}
    assert out  # some negatives survive filtering
    for r in out:
        trip = (r["src_id"], r["pred"], r["dst_neg"])
        assert trip not in positives       # no accidental positives
        assert r["dst_neg"] in nodes       # corrupt tail is a real node
        assert 0 <= r["sample_id"] < 3
    # at most k per positive
    from collections import Counter

    per_pos = Counter((r["src_id"], r["pred"]) for r in out)
    assert all(v <= 6 for v in per_pos.values())  # 2 edges x k=3 max
    # determinism: bit-identical on rerun
    again = negative_samples(edges, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_edge_timespans_min_max_docs(spark):
    from glinerswift_spark.operators.graph import edge_timespans

    triples = spark.createDataFrame(
        [("Acme", "acts_on", "Widget", 3, 0.9),
         ("acme", "acts_on", "widget", 7, 0.8),   # case-folds to same edge
         ("Acme", "acts_on", "Gear", 5, 0.7)],
        "subj string, pred string, obj string, doc_id long, score double",
    )
    smap = spark.createDataFrame(
        [("acme", "n1"), ("widget", "n2"), ("gear", "n3")],
        "surface string, canonical_id string",
    )
    got = {
        (r["src_id"], r["pred"], r["dst_id"]): (
            r["weight"], r["first_doc"], r["last_doc"]
        )
        for r in edge_timespans(triples, smap).collect()
    }
    assert got == {("n1", "acts_on", "n2"): (2, 3, 7),
                   ("n1", "acts_on", "n3"): (1, 5, 5)}
