"""Enumerated generator: SNF, translation canonicalization, Burnside counts.

Reference: matdb/database/enumerated.py:33-449 (enumerate 387-429,
retry loop 376-379, euid dedupe 415-427).
"""

from tracy_matdb_spark.operators.enumerated import (
    _canonical_labeling,
    enumerated_counts,
    enumerated_until_nconfigs,
    smith_diagonal,
)


def test_smith_diagonal_identity_and_diag():
    assert smith_diagonal([[1, 0, 0], [0, 1, 0], [0, 0, 1]]) == (1, 1, 1)
    assert smith_diagonal([[2, 0, 0], [0, 2, 0], [0, 0, 1]]) == (1, 2, 2)
    assert smith_diagonal([[1, 0, 0], [0, 1, 0], [0, 0, 4]]) == (1, 1, 4)


def test_smith_diagonal_nontrivial_hnf():
    # [[1,0,0],[1,2,0],[1,1,2]] has det 4; invariant factors divide chain
    d = smith_diagonal([[1, 0, 0], [1, 2, 0], [1, 1, 2]])
    assert d[0] * d[1] * d[2] == 4
    assert d[1] % d[0] == 0 and d[2] % d[1] == 0


def test_canonical_labeling_translation_invariant():
    # Z4: labeling 0001 and all its cyclic shifts share one canonical form
    canon = {_canonical_labeling(1, 1, 4, 1 << (k), 2) for k in range(4)}
    assert len(canon) == 1
    # ...and it is the lexicographic minimum of the orbit
    assert canon.pop() == "0001"


def test_canonical_labeling_z2xz2():
    # In Z2 x Z2 every single-'1' labeling is equivalent (group acts
    # transitively on itself)
    canon = {_canonical_labeling(1, 2, 2, 1 << k, 2) for k in range(4)}
    assert len(canon) == 1


def test_burnside_counts(spark):
    pdf = enumerated_counts(spark, 4).toPandas()
    got = {int(r["size"]): (int(r["n_hnfs"]), int(r["n_unique"])) for _, r in pdf.iterrows()}
    # Burnside: see queries/domain.py enumerated_generate oracle comment
    assert got == {1: (1, 2), 2: (7, 21), 3: (13, 52), 4: (35, 217)}


def test_until_nconfigs_exact_and_deterministic(spark):
    a = enumerated_until_nconfigs(spark, nconfigs=30, k=2).toPandas()
    b = enumerated_until_nconfigs(spark, nconfigs=30, k=2).toPandas()
    assert len(a) == 30
    assert a["euid"].tolist() == b["euid"].tolist()
    # sizes 1-2 (23 structures) fully kept, remainder from size 3
    assert (a["size"] <= 3).all()
    assert (a["size"] <= 2).sum() == 23


def test_point_group_integer_unimodular():
    from tracy_matdb_spark.operators.enumerated import point_group

    for lattice in ("sc", "fcc", "bcc"):
        ops = point_group(lattice)
        assert len(ops) == 48
        assert len({tuple(v for row in A for v in row) for A in ops}) == 48
        for A in ops:
            det = (
                A[0][0] * (A[1][1] * A[2][2] - A[1][2] * A[2][1])
                - A[0][1] * (A[1][0] * A[2][2] - A[1][2] * A[2][0])
                + A[0][2] * (A[1][0] * A[2][1] - A[1][1] * A[2][0])
            )
            assert det in (1, -1)


def test_column_hnf_idempotent_and_unimodular_invariant():
    from tracy_matdb_spark.operators.enumerated import column_hnf, hnf_tuples

    for h in hnf_tuples(4):
        a, b, c, d, e, f = h
        M = [[a, 0, 0], [b, c, 0], [d, e, f]]
        assert column_hnf(M) == h  # already normalized -> fixed point
        # right-multiplying by a unimodular matrix (column ops) keeps the
        # lattice, so the HNF must not change: M @ U with U = [[1,1,0],[0,1,0],[0,1,1]]
        U = [[1, 1, 0], [0, 1, 0], [0, 1, 1]]
        MU = [[sum(M[i][t] * U[t][j] for t in range(3)) for j in range(3)] for i in range(3)]
        assert column_hnf(MU) == h


def test_reduced_counts_match_brute_force_orbits(spark):
    """The Spark canonical-min path and the exhaustive disjoint-set orbit
    union (tools/derive_enum_oracle.py) are independent computations of
    the same Hart-Forcade reduction; they must agree exactly."""
    import sys

    sys.path.insert(0, ".")
    from tools.derive_enum_oracle import brute_counts
    from tracy_matdb_spark.operators.enumerated import enumerated_reduced_counts

    pdf = enumerated_reduced_counts(spark, max_size=4).toPandas()
    got = {
        (r.lattice, int(r.size)): (int(r.n_hnfs), int(r.n_unique))
        for r in pdf.itertuples(index=False)
    }
    for lattice in ("sc", "fcc", "bcc"):
        for n in range(1, 5):
            assert got[(lattice, n)] == brute_counts(lattice, n), (lattice, n)
    # physics anchors: fcc n=2 is exactly {L1_0, L1_1}; bcc n=2 {B2, B32}
    assert got[("fcc", 2)] == (2, 2)
    assert got[("bcc", 2)] == (2, 2)


def test_column_hnf_unimodular_invariance_property():
    """Property: right-multiplying by ANY unimodular matrix (a product of
    random elementary column ops) preserves the lattice, so column_hnf
    must be invariant — the algebraic contract the HNF-class reduction
    rests on."""
    import random

    from tracy_matdb_spark.operators.enumerated import column_hnf, hnf_tuples

    rng = random.Random(7)
    for h in hnf_tuples(6):
        a, b, c, d, e, f = h
        M = [[a, 0, 0], [b, c, 0], [d, e, f]]
        U = [[1, 0, 0], [0, 1, 0], [0, 0, 1]]
        for _ in range(6):  # random elementary ops: swap / negate / shear
            op = rng.randrange(3)
            i, j = rng.sample(range(3), 2)
            if op == 0:
                for r in range(3):
                    U[r][i], U[r][j] = U[r][j], U[r][i]
            elif op == 1:
                for r in range(3):
                    U[r][i] = -U[r][i]
            else:
                k = rng.randrange(-2, 3)
                for r in range(3):
                    U[r][i] += k * U[r][j]
        MU = [[sum(M[r][t] * U[t][cc] for t in range(3)) for cc in range(3)] for r in range(3)]
        assert column_hnf(MU) == h, (h, U)


def test_hnf_canon_orbit_invariance_property():
    """Property: the point-group canonical form is constant on each
    orbit — canon(column_hnf(A @ M)) == canon(M) for every op A."""
    from tracy_matdb_spark.operators.enumerated import column_hnf, hnf_tuples, point_group

    def canon(M, ops):
        return min(
            column_hnf([[sum(A[i][t] * M[t][j] for t in range(3)) for j in range(3)] for i in range(3)])
            for A in ops
        )

    for lattice in ("sc", "fcc", "bcc"):
        ops = point_group(lattice)
        for h in hnf_tuples(4):
            a, b, c, d, e, f = h
            M = [[a, 0, 0], [b, c, 0], [d, e, f]]
            base = canon(M, ops)
            for A in ops[::7]:  # sample ops for speed
                AM = [[sum(A[i][t] * M[t][j] for t in range(3)) for j in range(3)] for i in range(3)]
                h2 = column_hnf(AM)
                M2 = [[h2[0], 0, 0], [h2[1], h2[2], 0], [h2[3], h2[4], h2[5]]]
                assert canon(M2, ops) == base, (lattice, h, A)


def test_hcp_space_ops_and_anchors(spark):
    """hcp: D6h has 24 ops; every op resolves a consistent basis map
    (screw/glide classes compose with the tau_1 fractional translation);
    and the physics anchor — one formula-unit cell has exactly 3
    structures (AA, BB, and AB: the basis swap collapses AB with BA)."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.operators.enumerated import _reduced_structs, point_group, space_ops

    ops = point_group("hcp")
    assert len(ops) == 24
    sops = space_ops("hcp")
    assert len(sops) == 24
    # at least one op must swap the two basis atoms (the 6_3 screw class)
    assert any(bm[0][0] == 1 for _, bm in sops)
    out = (
        _reduced_structs(spark, 2, 2, ("hcp",))
        .groupBy("size")
        .agg(F.countDistinct("hnf").alias("nh"), F.count(F.lit(1)).alias("nu"))
        .orderBy("size")
        .collect()
    )
    got = {r.size: (r.nh, r.nu) for r in out}
    # brute-force orbit counts (tools/derive_enum_oracle.py): n=1 -> 3
    # structures over 1 HNF class, n=2 -> 10 over 3 classes
    assert got == {1: (1, 3), 2: (3, 10)}


def test_lattice_point_group_custom_matches_named():
    """The generic Gram-preservation search (the reference's `custom`
    lattice case) must reproduce the named groups EXACTLY (same matrix
    sets, column convention), find the hexagonal group from a rational
    Gram, and collapse a skew triclinic cell to +/-I."""
    from fractions import Fraction as Fr

    from tracy_matdb_spark.operators.enumerated import lattice_point_group, point_group

    half = Fr(1, 2)
    bases = {
        "sc": [[1, 0, 0], [0, 1, 0], [0, 0, 1]],
        "fcc": [[0, half, half], [half, 0, half], [half, half, 0]],
        "bcc": [[-half, half, half], [half, -half, half], [half, half, -half]],
    }
    for name, basis in bases.items():
        named = {tuple(v for r in A for v in r) for A in point_group(name)}
        found = {tuple(v for r in A for v in r) for A in lattice_point_group(basis)}
        assert named == found, name
    hexg = [[1, -half, 0], [-half, 1, 0], [0, 0, 2]]
    named = {tuple(v for r in A for v in r) for A in point_group("hcp")}
    found = {tuple(v for r in A for v in r) for A in lattice_point_group(gram=hexg)}
    assert named == found
    tri = [[1, 0, 0], [Fr(1, 5), 1, 0], [Fr(1, 7), Fr(2, 9), 1]]
    assert len(lattice_point_group(tri)) == 2  # only +/-identity


def test_custom_lattice_spec_parsing_and_groups():
    """custom[...] Gram specs: tetragonal D4h (16 ops), hcp expressed as
    a custom gram+basis reproduces the named hcp space group exactly, a
    symmetry-breaking basis drops to the resolvable subgroup, and
    malformed specs fail fast."""
    import pytest

    from tracy_matdb_spark.operators.enumerated import (
        _ops_cached,
        parse_custom_lattice,
        point_group,
        space_ops,
    )

    assert parse_custom_lattice("sc") is None
    assert len(point_group("custom[1,0,0,1,0,2]")) == 16  # D4h
    hcp_c = "custom[1,-1/2,0,1,0,5/2]@0,0,0;1/3,2/3,1/2"
    named = {(tuple(v for r in A for v in r), tuple(bm)) for A, bm in space_ops("hcp")}
    cust = {(tuple(v for r in A for v in r), tuple(bm)) for A, bm in space_ops(hcp_c)}
    assert named == cust
    # a basis off the symmetry axes keeps only a subgroup — and the
    # crystal point group used for HNF classes is that same subset
    broke = "custom[1,0,0,1,0,2]@0,0,0;1/2,0,1/2"
    assert len(space_ops(broke)) == 8
    assert len(_ops_cached(broke)) == 8
    for bad in (
        "custom[1,0,0,1,0",          # unterminated
        "custom[1,0,0,1,0,2,3]",     # 7 entries
        "custom[1,0,0,-1,0,2]",      # not positive definite
        "custom[1,0,0,1,0,2]@1/3,0,0",  # basis not origin-anchored
    ):
        with pytest.raises(ValueError):
            point_group(bad) if "@" not in bad else space_ops(bad)


def test_custom_hcp_counts_match_named(spark):
    """The whole reduction pipeline run through the custom-spec path
    must reproduce the named hcp counts (same Gram, same basis)."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.operators.enumerated import _reduced_structs

    hcp_c = "custom[1,-1/2,0,1,0,5/2]@0,0,0;1/3,2/3,1/2"
    out = (
        _reduced_structs(spark, 2, 2, (hcp_c,))
        .groupBy("size")
        .agg(F.countDistinct("hnf").alias("nh"), F.count(F.lit(1)).alias("nu"))
        .orderBy("size")
        .collect()
    )
    assert {r.size: (r.nh, r.nu) for r in out} == {1: (1, 3), 2: (3, 10)}


def test_oracle_tool_groups_are_independent_and_match():
    """tools/derive_enum_oracle builds its groups locally (only
    hnf_tuples is imported from production); its op sets must coincide
    with the production module's — a cross-check, not a dependency."""
    import ast
    import pathlib

    from tools.derive_enum_oracle import GRAMS, local_point_group, local_space_ops, parse_lattice
    from tracy_matdb_spark.operators.enumerated import point_group, space_ops

    for lat, expect in (("sc", 48), ("fcc", 48), ("bcc", 48), ("hcp", 24)):
        loc = {tuple(v for r in A for v in r) for A in local_point_group(GRAMS[lat])}
        prod = {tuple(v for r in A for v in r) for A in point_group(lat)}
        assert loc == prod and len(loc) == expect, lat
    G, basis = parse_lattice("hcp")
    locs = {(tuple(v for r in A for v in r), tuple(bm)) for A, bm in local_space_ops(G, basis)}
    prods = {(tuple(v for r in A for v in r), tuple(bm)) for A, bm in space_ops("hcp")}
    assert locs == prods
    # import-surface pin: the tool may import ONLY hnf_tuples from the
    # production package (the shared enumeration convention)
    tree = ast.parse(pathlib.Path("tools/derive_enum_oracle.py").read_text())
    prod_imports = [
        alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module and "tracy_matdb_spark" in node.module
        for alias in node.names
    ]
    assert prod_imports == ["hnf_tuples"], prod_imports


def test_until_nconfigs_incremental_single_size_plans(spark):
    """The retry loop enumerates each size exactly once with a
    single-size plan (min_size == size) — O(1) plans per iteration, not
    a re-enumeration of 1..s (round-4 verdict item #4)."""
    import tracy_matdb_spark.operators.enumerated as en

    calls = []
    orig = en.enumerated_transform

    def spy(spark_, max_size, k=2, min_size=1):
        calls.append((max_size, min_size))
        return orig(spark_, max_size, k, min_size)

    en.enumerated_transform = spy
    try:
        out = en.enumerated_until_nconfigs(spark, nconfigs=30, k=2).toPandas()
    finally:
        en.enumerated_transform = orig
    assert len(out) == 30
    # sizes 1, 2, 3 each enumerated once, as single-size increments
    assert calls == [(1, 1), (2, 2), (3, 3)]


def test_reduced_structs_labeling_guard(spark):
    """Oversized enumeration requests fail fast driver-side with
    guidance instead of launching an exponential job."""
    import pytest

    from tracy_matdb_spark.operators.enumerated import MAX_LABELINGS, enumerated_reduced

    with pytest.raises(ValueError, match="labelings per largest HNF"):
        enumerated_reduced(spark, "sc", max_size=30, k=2)
    with pytest.raises(ValueError, match="lower max_size/k"):
        enumerated_reduced(spark, "hcp", max_size=12, k=4)
    assert 2**22 == MAX_LABELINGS  # documented ceiling


def test_expand_chunked_streaming_matches_unchunked(spark):
    """Forcing a tiny orbit block makes expand() stream the labeling
    axis in many chunks; counts must be identical to the single-chunk
    path (canonical-min and the superperiodic test are per-labeling)."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.operators.enumerated import _reduced_structs

    agg = lambda df: {  # noqa: E731
        r.size: (r.nh, r.nu)
        for r in df.groupBy("size")
        .agg(F.countDistinct("hnf").alias("nh"), F.count(F.lit(1)).alias("nu"))
        .orderBy("size")
        .collect()
    }
    tiny = agg(_reduced_structs(spark, 4, 2, ("sc",), block_elems=64))
    full = agg(_reduced_structs(spark, 4, 2, ("sc",)))
    assert tiny == full == {1: (1, 2), 2: (3, 3), 3: (3, 6), 4: (9, 24)}


def test_subgroup_oracle_anchors_hcp_without_hnf_conventions():
    """Round-5 verdict item #4: the hcp counts previously rested on a
    single shared primitive (`hnf_tuples` + its coset-box convention).
    tools/subgroup_enum_oracle.py re-derives the counts with NO HNF
    representation at all (sublattices = subgroups of (Z/n)^3, cosets
    via DSU) and must agree exactly — an independent anchor alongside
    the published fcc-631 pin."""
    import sys

    sys.path.insert(0, ".")
    from tools.derive_enum_oracle import brute_counts as hnf_counts
    from tools.subgroup_enum_oracle import brute_counts as sub_counts

    for lattice in ("sc", "fcc", "bcc", "hcp"):
        for n in range(1, 4):
            assert sub_counts(lattice, n) == hnf_counts(lattice, n), (lattice, n)
    # the externally published anchor values restated through the
    # HNF-free machine: hcp n=1 -> 3 structures over 1 sublattice class,
    # n=2 -> 10 over 3; fcc n=2 = {L1_0, L1_1}
    assert sub_counts("hcp", 1) == (1, 3)
    assert sub_counts("hcp", 2) == (3, 10)
    assert sub_counts("fcc", 2) == (2, 2)


def test_subgroup_oracle_imports_nothing_from_production():
    """The HNF-free oracle must not import the production package OR
    derive_enum_oracle — full machinery independence."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path("tools/subgroup_enum_oracle.py").read_text())
    for node in ast.walk(tree):
        mods = []
        if isinstance(node, ast.ImportFrom) and node.module:
            mods = [node.module]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        for m in mods:
            assert "tracy_matdb_spark" not in m and "derive_enum" not in m, m


def test_hnf_convention_mutation_is_caught_by_subgroup_oracle():
    """Kill-test: a deliberate convention error in hnf_tuples must make
    derive_enum_oracle's counts DISAGREE with the HNF-free subgroup
    oracle — proof the new anchor detects the common-mode failure it was
    built for. The mutation drops the f=2 (c-axis-doubled) family, which
    is closed under D6h, so BOTH hnf_tuples consumers digest it silently
    (no classify error) and produce the same wrong (1, 4) — only the
    HNF-free machine disagrees."""
    import sys

    sys.path.insert(0, ".")
    import tools.derive_enum_oracle as deo
    from tools.subgroup_enum_oracle import brute_counts as sub_counts
    from tracy_matdb_spark.operators.enumerated import hnf_tuples

    orig = deo.hnf_tuples
    try:
        deo.hnf_tuples = lambda n: [h for h in hnf_tuples(n) if n != 2 or h[5] != 2]
        mutated = deo.brute_counts("hcp", 2)
    finally:
        deo.hnf_tuples = orig
    assert mutated != sub_counts("hcp", 2), mutated
    # and restored, they agree again
    assert deo.brute_counts("hcp", 2) == sub_counts("hcp", 2)


def test_subgroup_oracle_hcp_n4_deep_anchor():
    """The deepest offline hcp anchor: at index 4 (8-atom multilattice
    cells) both independent machines — HNF-based and subgroup-based —
    agree on 11 sublattice classes / 270 reduced structures. ~8s of
    exhaustive orbit union; the value 270 is pinned so any convention
    drift in either machine fails loudly."""
    import sys

    sys.path.insert(0, ".")
    from tools.derive_enum_oracle import brute_counts as hnf_counts
    from tools.subgroup_enum_oracle import brute_counts as sub_counts

    assert sub_counts("hcp", 4) == (11, 270)
    assert hnf_counts("hcp", 4) == (11, 270)


def test_orbit_perms_and_is_rep_memos_identical_and_bounded():
    """The r15 pure-math memos must be transparent: a memoized
    _orbit_perms hit returns arrays equal to a fresh computation, the
    is_rep verdicts match a memo-free evaluation, and the orbit cache's
    element accounting respects its bound under eviction."""
    import numpy as np

    from tracy_matdb_spark.operators import enumerated as en

    # orbit perms: fresh vs cached are equal, and the cached arrays are
    # the same values on a second call (hit path)
    en._ORBIT_PERMS_CACHE.clear()
    en._ORBIT_PERMS_ELEMS[0] = 0
    h = (1, 0, 2, 1, 1, 2)  # det 4 HNF
    p1, t1, n1 = en._orbit_perms(h, "fcc")
    assert (h, "fcc") in en._ORBIT_PERMS_CACHE
    p2, t2, n2 = en._orbit_perms(h, "fcc")
    assert n1 == n2 and np.array_equal(p1, p2) and np.array_equal(t1, t2)
    # a fresh computation (cache cleared) agrees with the cached one
    en._ORBIT_PERMS_CACHE.clear()
    en._ORBIT_PERMS_ELEMS[0] = 0
    p3, t3, n3 = en._orbit_perms(h, "fcc")
    assert n1 == n3 and np.array_equal(p1, p3) and np.array_equal(t1, t3)

    # eviction: shrink the bound so the second insert evicts the first,
    # and the accounting never exceeds the bound
    old_max = en._ORBIT_PERMS_MAX_ELEMS
    try:
        en._ORBIT_PERMS_CACHE.clear()
        en._ORBIT_PERMS_ELEMS[0] = 0
        en._ORBIT_PERMS_MAX_ELEMS = p1.size + t1.size
        en._orbit_perms(h, "fcc")
        assert en._ORBIT_PERMS_ELEMS[0] <= en._ORBIT_PERMS_MAX_ELEMS
        en._orbit_perms((1, 0, 1, 0, 0, 4), "fcc")
        assert en._ORBIT_PERMS_ELEMS[0] <= en._ORBIT_PERMS_MAX_ELEMS
    finally:
        en._ORBIT_PERMS_MAX_ELEMS = old_max
        en._ORBIT_PERMS_CACHE.clear()
        en._ORBIT_PERMS_ELEMS[0] = 0

    # is_rep: memoized verdicts equal a memo-free pass over all det<=4
    # HNFs for all three cubic lattices
    def verdict(lat, h6):
        own = tuple(int(v) for v in h6)
        M = [[own[0], 0, 0], [own[1], own[2], 0], [own[3], own[4], own[5]]]
        for A in en._half_ops_cached(lat):
            img = en.column_hnf(
                [[sum(A[i][t] * M[t][j] for t in range(3)) for j in range(3)] for i in range(3)]
            )
            if img < own:
                return False
        return True

    en._IS_REP_CACHE.clear()
    rows = [(lat, h6) for det in (1, 2, 3, 4) for h6 in en.hnf_tuples(det) for lat in ("sc", "fcc", "bcc")]
    got1 = [en._hnf_is_rep(lat, h6) for lat, h6 in rows]  # cold pass fills the memo
    got2 = [en._hnf_is_rep(lat, h6) for lat, h6 in rows]  # warm pass reads it
    want = [verdict(lat, h6) for lat, h6 in rows]
    assert got1 == want and got2 == want


def test_orbit_perms_cache_evicts_oldest_and_skips_oversize():
    """The orbit cache is FIFO: an insert past the bound evicts the
    oldest entries, not the newest; a result larger than the whole bound
    is returned uncached and leaves the cached entries in place."""
    from tracy_matdb_spark.operators import enumerated as en

    a, b, c, big = (1, 0, 1, 0, 0, 2), (1, 0, 1, 0, 0, 1), (1, 0, 2, 1, 1, 2), (1, 0, 1, 0, 0, 4)
    old_max = en._ORBIT_PERMS_MAX_ELEMS
    try:
        en._ORBIT_PERMS_CACHE.clear()
        en._ORBIT_PERMS_ELEMS[0] = 0
        sizes = {}
        for h in (a, b, c, big):
            p, t, _ = en._orbit_perms(h, "fcc")
            sizes[h] = p.size + t.size
        # room for b + c but not a + b + c, and never for `big`
        en._ORBIT_PERMS_MAX_ELEMS = sizes[b] + sizes[c] + min(sizes[a], sizes[b]) - 1
        assert sizes[a] + sizes[b] + sizes[c] > en._ORBIT_PERMS_MAX_ELEMS
        assert sizes[big] > en._ORBIT_PERMS_MAX_ELEMS
        en._ORBIT_PERMS_CACHE.clear()
        en._ORBIT_PERMS_ELEMS[0] = 0
        for h in (a, b, c):
            en._orbit_perms(h, "fcc")
        assert list(en._ORBIT_PERMS_CACHE) == [(b, "fcc"), (c, "fcc")]
        assert en._ORBIT_PERMS_ELEMS[0] == sizes[b] + sizes[c]

        p, t, _ = en._orbit_perms(big, "fcc")
        assert p.size + t.size == sizes[big]
        assert list(en._ORBIT_PERMS_CACHE) == [(b, "fcc"), (c, "fcc")]
        assert en._ORBIT_PERMS_ELEMS[0] == sizes[b] + sizes[c]
    finally:
        en._ORBIT_PERMS_MAX_ELEMS = old_max
        en._ORBIT_PERMS_CACHE.clear()
        en._ORBIT_PERMS_ELEMS[0] = 0
