"""Connected components: chains, isolated pairs, convergence."""

CHAIN60 = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(60)]


def test_two_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    from ner_pytorch_spark.operators.cc import connected_components

    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain(spark):
    n = 30
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)], "src string, dst string")
    from ner_pytorch_spark.operators.cc import connected_components

    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {"n00"}
    assert len(got) == n + 1


def test_long_int_ids(spark):
    edges = spark.createDataFrame([(5, 3), (3, 9), (20, 21)], "src long, dst long")
    from ner_pytorch_spark.operators.cc import connected_components

    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}


def test_random_graphs_vs_union_find(spark):
    """Differential: Spark cc == pure union-find on a 60-chain, a
    25-cycle and random graphs."""
    import numpy as np

    def union_find_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical component id = min node in component
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        out = {}
        for root, members in comp.items():
            m = min(members)
            for n in members:
                out[n] = m
        return out

    from ner_pytorch_spark.operators.cc import connected_components

    # the chain and cycle are the high-diameter cases; (z, z) is a node
    # with only a self-loop; a row with a null endpoint is dropped whole
    cases = [("string", CHAIN60 + [("z", "z"), ("w", None)]),
             ("long", [(i, (i + 1) % 25) for i in range(25)])]
    for seed in (17, 23):
        rng = np.random.default_rng(seed)
        for _ in range(3 if seed == 17 else 2):
            n_nodes = int(rng.integers(20, 60))
            edges = [(int(rng.integers(0, n_nodes)),
                      int(rng.integers(0, n_nodes)))
                     for _ in range(int(rng.integers(10, 80)))]
            cases.append(("long", [(a, b) for a, b in edges if a != b]
                          + [(1000, None)]))
    for i, (typ, edges) in enumerate(cases):
        df = spark.createDataFrame(edges, f"src {typ}, dst {typ}")
        got = {r.node: r.component
               for r in connected_components(df).collect()}
        kept = [(a, b) for a, b in edges if a is not None and b is not None]
        nodes = sorted({x for e in kept for x in e})
        assert got == union_find_components(kept, nodes), f"case {i}"


def test_round_cap_raises(spark, monkeypatch):
    """Hitting the round cap is an error, never unconverged labels."""
    import pytest

    from ner_pytorch_spark.operators import cc

    monkeypatch.setattr(cc, "_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="_MAX_ROUNDS=2"):
        cc.connected_components(
            spark.createDataFrame(CHAIN60, "src string, dst string"))


def test_one_checkpoint_per_round(spark, monkeypatch):
    """Each round is one localCheckpoint whose observed metric decides
    convergence: the edge checkpoint plus one per round, and no other
    action. The 60-chain converges in 6 rounds (O(log n))."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ner_pytorch_spark.operators.cc import connected_components

    chain = spark.createDataFrame(CHAIN60, "src string, dst string")
    calls = {m: 0 for m in ("localCheckpoint", "observe", "count",
                            "first", "collect")}
    for name in calls:
        def counted(self, *args, _orig=getattr(DataFrame, name),
                    _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *args, **kw)
        monkeypatch.setattr(DataFrame, name, counted)
    connected_components(chain)
    monkeypatch.undo()
    assert calls["observe"] == 6, calls
    assert calls["localCheckpoint"] == calls["observe"] + 1, calls
    assert calls["count"] == calls["first"] == calls["collect"] == 0, calls
