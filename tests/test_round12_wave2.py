"""Round-12 second wave: cross-correlation, random-walk corpus, SCC —
python-reference checks independent of the DuckDB oracles."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_ccf_matches_numpy_reference(spark):
    """Every published (pair, lag) cell must equal the textbook
    cross-correlation of the two integer daily-mean series computed in
    plain python, and |ccf| <= 1 with the complete-pair count."""
    import math

    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        _CCF_MAX_LAG,
        q_timeseries_ccf,
    )

    rows = q_timeseries_ccf(spark, SF).collect()
    assert rows, "ccf produced no rows"

    # rebuild the daily integer series the operator defines
    import pyspark.sql.functions as F

    daily = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(
            F.expr(
                "sum(cast(round(value * 100) as bigint)) div count(*)"
            ).alias("y")
        )
        .collect()
    )
    series: dict[str, dict] = {}
    for r in daily:
        series.setdefault(r["event_type"], {})[r["day"].toordinal()] = r["y"]

    def ref(tx, ty, lag):
        xs, ys = series[tx], series[ty]
        mx = sum(xs.values()) / len(xs)
        my = sum(ys.values()) / len(ys)
        num = sum(
            (xs[d] - mx) * (ys[d + lag] - my)
            for d in xs
            if d + lag in ys
        )
        npairs = sum(1 for d in xs if d + lag in ys)
        denx = sum((v - mx) ** 2 for v in xs.values())
        deny = sum((v - my) ** 2 for v in ys.values())
        return npairs, num / math.sqrt(denx * deny)

    for r in rows:
        assert r["type_x"] < r["type_y"]
        assert -_CCF_MAX_LAG <= r["lag"] <= _CCF_MAX_LAG
        npairs, cc = ref(r["type_x"], r["type_y"], r["lag"])
        assert r["n_pairs"] == npairs
        assert abs(r["ccf"] - cc) < 5e-6
        assert abs(r["ccf"]) <= 1.0 + 1e-9


def test_random_walks_follow_edges_and_are_deterministic(spark):
    """Each walk starts at its seed, alternates the bipartite parity
    (customer at even steps, supplier at odd), every consecutive pair
    is a real edge of the symmetrized purchase graph, and the whole
    corpus is bit-identical across runs."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _RW_SEED_MOD,
        _RW_STEPS,
        _purchase_fwd,
        q_graph_random_walks,
    )

    out = q_graph_random_walks(spark, SF).collect()
    assert out
    fwd = {(r["src"], r["dst"]) for r in _purchase_fwd(spark, SF).collect()}
    edges = fwd | {(d, s) for s, d in fwd}

    walks: dict[int, dict[int, tuple[str, int]]] = {}
    for r in out:
        walks.setdefault(r["walk_seed"], {})[r["step"]] = (
            r["node_type"],
            r["entity_key"],
        )
    for seed, steps in walks.items():
        assert seed % _RW_SEED_MOD == 0
        assert sorted(steps) == list(range(_RW_STEPS + 1))
        assert steps[0] == ("customer", seed)
        prev = None
        for t in range(_RW_STEPS + 1):
            typ, key = steps[t]
            assert typ == ("customer" if t % 2 == 0 else "supplier")
            enc = key * 2 if typ == "customer" else key * 2 + 1
            if prev is not None:
                assert (prev, enc) in edges
            prev = enc

    again = q_graph_random_walks(spark, SF).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def _tarjan(edges):
    """Iterative Tarjan SCC over an adjacency dict; returns the set of
    frozensets of members (all SCCs, singletons included)."""
    adj: dict = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes.add(s)
        nodes.add(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    sccs = []
    counter = [0]

    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(frozenset(comp))
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return set(sccs)


def test_scc_labels_match_tarjan(spark):
    """The distributed coloring decomposition must reproduce Tarjan's
    SCCs exactly on the same digraph, label every SCC by its min
    member, and the registered query's aggregate rows must account for
    every node (partition completeness)."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _scc_digraph,
        q_graph_scc,
        scc_labels,
    )

    e_df = _scc_digraph(spark, SF)
    edges = [(r["src"], r["dst"]) for r in e_df.collect()]
    assert edges, "sparsified digraph is empty at sf0.001"
    truth = _tarjan(edges)

    # the DISTRIBUTED coloring path, regime-forced (local_max_edges=0);
    # the default local-Tarjan route must agree exactly
    labels = scc_labels(
        spark, _scc_digraph(spark, SF), local_max_edges=0
    ).collect()
    got: dict = {}
    for r in labels:
        got.setdefault(r["scc"], set()).add(r["node"])
    assert set(map(frozenset, got.values())) == truth
    for scc_id, members in got.items():
        assert scc_id == min(members)
    local = scc_labels(spark, _scc_digraph(spark, SF)).collect()
    assert sorted((r["node"], r["scc"]) for r in local) == sorted(
        (r["node"], r["scc"]) for r in labels
    )

    out = q_graph_scc(spark, SF).collect()
    all_nodes = {n for e in edges for n in e}
    n_from_rows = sum(r["n_nodes"] for r in out)
    sum_from_rows = sum(r["node_sum"] for r in out)
    assert n_from_rows == len(all_nodes)
    assert sum_from_rows == sum(all_nodes)
    for r in out:
        if r["scc_id"] != -1:
            assert r["n_nodes"] >= 2
            assert frozenset(got[r["scc_id"]]) in truth


def test_mis_independence_and_domination(spark):
    """Luby invariants after the fixed rounds: the MIS is independent
    (no two winners adjacent), every 'out' node has a MIS neighbor,
    every undecided survivor still has an undecided neighbor, and the
    three statuses partition the node set."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _purchase_fwd,
        mis_rounds,
        q_graph_mis,
    )

    state = mis_rounds(spark, SF).collect()
    mis = {r["node"] for r in state if r["status"] == "mis"}
    out = {r["node"] for r in state if r["status"] == "out"}
    undec = {r["node"] for r in state if r["status"] == "undecided"}
    assert mis, "no MIS winners at sf0.001"
    assert not (mis & out) and not (mis & undec) and not (out & undec)

    fwd = {(r["src"], r["dst"]) for r in _purchase_fwd(spark, SF).collect()}
    edges = fwd | {(d, s) for s, d in fwd}
    nodes = {n for e in edges for n in e}
    assert mis | out | undec == nodes

    nbrs: dict = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    for v in mis:
        assert not (nbrs[v] & mis), "two adjacent MIS nodes"
    for v in out:
        assert nbrs[v] & mis, "excluded node without a MIS neighbor"
    for v in undec:
        assert nbrs[v] & undec, "undecided node with no undecided neighbor"

    rows = q_graph_mis(spark, SF).collect()
    assert sum(r["n_nodes"] for r in rows) == len(nodes)
    assert sum(r["node_sum"] for r in rows) == sum(nodes)


def test_kcenter_matches_python_greedy(spark):
    """The seed sequence must equal a plain-python Gonzalez traversal
    over the same quantized vectors, and the published coverage radius
    (cosine to nearest prior seed) must be non-decreasing."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _KC_K,
        q_embed_kcenter_seed,
    )
    from end_to_end_aws_data_pipeline_spark.operators.veccorpus import (
        quantized_vectors,
    )
    from end_to_end_aws_data_pipeline_spark.operators.vecbatch import SCALE_SQ

    vecs = {
        r["vec_id"]: r["q"] for r in quantized_vectors(spark, SF).collect()
    }
    chosen = [min(vecs)]
    maxdot = {
        v: sum(a * b for a, b in zip(q, vecs[chosen[0]]))
        for v, q in vecs.items()
    }
    expect = [(1, chosen[0], None)]
    for k in range(2, _KC_K + 1):
        rest = [(maxdot[v], v) for v in vecs if v not in chosen]
        md, v = min(rest)
        chosen.append(v)
        expect.append((k, v, md))
        for u, q in vecs.items():
            maxdot[u] = max(
                maxdot[u], sum(a * b for a, b in zip(q, vecs[v]))
            )

    rows = q_embed_kcenter_seed(spark, SF).collect()
    assert len(rows) == _KC_K
    radii = []
    for r, (rank, vid, md) in zip(rows, expect):
        assert (r["seed_rank"], r["vec_id"]) == (rank, vid)
        if md is None:
            assert r["radius_sim"] is None
        else:
            assert abs(r["radius_sim"] - md / SCALE_SQ) < 2e-6
            radii.append(r["radius_sim"])
    assert radii == sorted(radii), "coverage radius must be non-decreasing"
