"""Hypothesis property tests over the function families (SURVEY §5.4).

Each example ships a BATCH of generated rows through one Spark job and
asserts the invariant per row — hypothesis shrinks on failure, the
batch keeps job count (and wall clock) low. Deadlines are off because
Spark job latency is noisy; determinism comes from the functions under
test, not the examples.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=12,
)
texts = st.lists(words, min_size=0, max_size=30).map(" ".join)


@given(batch=st.lists(texts, min_size=1, max_size=20))
@settings(**SETTINGS)
def test_normalize_idempotent(spark, batch):
    """normalize(normalize(x)) == normalize(x) for arbitrary text."""
    from zmaxion_spark.functions.text import normalize

    df = spark.createDataFrame([(t,) for t in batch], ["t"])
    rows = df.select(
        normalize(F.col("t")).alias("once"),
        normalize(normalize(F.col("t"))).alias("twice"),
    ).collect()
    for r in rows:
        assert r.once == r.twice


@given(
    batch=st.lists(
        st.tuples(
            st.lists(words.filter(bool), min_size=0, max_size=15, unique=True),
            st.lists(words.filter(bool), min_size=0, max_size=15, unique=True),
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_jaccard_bounds_symmetry_identity(spark, batch):
    """0 <= J(a,b) = J(b,a) <= 1; J(a,a) == 1 for non-empty a."""
    from zmaxion_spark.functions.dedup import jaccard

    df = spark.createDataFrame(batch, "a array<string>, b array<string>")
    rows = df.select(
        F.size("a").alias("na"),
        jaccard(F.col("a"), F.col("b")).alias("jab"),
        jaccard(F.col("b"), F.col("a")).alias("jba"),
        jaccard(F.col("a"), F.col("a")).alias("jaa"),
    ).collect()
    for r in rows:
        assert 0.0 <= r.jab <= 1.0
        assert r.jab == r.jba
        if r.na:
            assert r.jaa == 1.0


@given(ids=st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_hash_bucket_range_and_determinism(spark, ids):
    """Buckets land in [0, n) and identical ids always agree."""
    from zmaxion_spark.queries.pipeline_q import hash_bucket

    df = spark.createDataFrame([(i,) for i in ids + ids], ["id"])
    rows = df.select("id", hash_bucket(F.col("id"), 100).alias("b")).collect()
    seen: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.b < 100
        assert seen.setdefault(r.id, r.b) == r.b


@given(toks=st.lists(words.filter(bool), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_rolling_fingerprint_matches_recurrence(spark, toks):
    """The SQL fold equals the h = (h*B + md5word(tok)) % M recurrence
    computed independently in Python."""
    import hashlib

    from zmaxion_spark.functions.text import ROLL_BASE, ROLL_MOD, rolling_fingerprint

    df = spark.createDataFrame([(toks,)], ["toks"])
    got = df.select(rolling_fingerprint(F.col("toks")).alias("fp")).collect()[0].fp
    h = 0
    for t in toks:
        x = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        h = (h * ROLL_BASE + x) % ROLL_MOD
    assert got == h


@given(batch=st.lists(st.lists(words.filter(bool), min_size=1, max_size=12), min_size=1, max_size=10))
@settings(**SETTINGS)
def test_simhash_md5_chunks_in_range(spark, batch):
    """Chunked md5 SimHash emits four 16-bit values for any feature set."""
    from zmaxion_spark.functions.dedup import simhash_md5_chunks

    df = spark.createDataFrame(
        [(i, fs) for i, fs in enumerate(batch)], ["id", "fs"]
    )
    rows = simhash_md5_chunks(df, "id", F.col("fs")).collect()
    assert len(rows) == len(batch)
    for r in rows:
        for c in range(4):
            assert 0 <= r[f"c{c}"] <= 0xFFFF


_sys_names = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),          # writes
        st.frozensets(st.sampled_from(["a", "b", "c", "d"]), max_size=3),  # reads
    ),
    min_size=1,
    max_size=8,
)


@given(specs=_sys_names)
@settings(**SETTINGS)
def test_ecs_schedule_staging_invariants(specs):
    """#111 staging laws for ANY system list: (1) no two systems in a
    stage conflict; (2) declaration order is preserved among
    conflicting systems; (3) staging is greedy-minimal — every system
    sits in the earliest stage consistent with its conflicts."""
    from zmaxion_spark.ecs import Schedule, System

    systems = [
        System(f"s{i}", writes=w, fn=lambda df: df, reads=tuple(r))
        for i, (w, r) in enumerate(specs)
    ]
    stages = Schedule(*systems).stages()

    def conflicts(x, y):
        xr, xw = x.access()
        yr, yw = y.access()
        return xw in yr or yw in xr

    pos = {}
    for si, stage in enumerate(stages):
        for s in stage:
            pos[s.name] = si
        for i, x in enumerate(stage):
            for y in stage[i + 1 :]:
                assert not conflicts(x, y), f"stage {si} holds conflict {x.name}/{y.name}"
    order = {s.name: i for i, s in enumerate(systems)}
    for x in systems:
        for y in systems:
            if order[x.name] < order[y.name] and conflicts(x, y):
                assert pos[x.name] < pos[y.name]
    for s in systems:
        floor = max(
            (pos[p.name] for p in systems if order[p.name] < order[s.name] and conflicts(p, s)),
            default=-1,
        )
        assert pos[s.name] == floor + 1, f"{s.name} not greedy-minimal"


_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),     # key
        st.integers(min_value=0, max_value=99),    # payload
    ),
    min_size=0,
    max_size=20,
)


@given(base_rows=_rows, change_rows=_rows)
@settings(**SETTINGS)
def test_merge_upsert_laws(spark, base_rows, change_rows):
    """#90 algebraic laws on arbitrary frames: (1) idempotence —
    re-applying the same change-set changes nothing; (2) dominance —
    every change-set key holds the change-set's newest value; (3)
    frame closure — untouched base keys pass through untouched."""
    from zmaxion_spark.functions.merge import merge_upsert

    # Build unique (key, version) pairs: version = arrival index, so
    # the change-set always outranks the base and later changes
    # outrank earlier ones.
    base = [(k, 0, v) for i, (k, v) in enumerate(dict(base_rows).items())]
    changes = [(k, 1, v) for i, (k, v) in enumerate(dict(change_rows).items())]
    schema = "k long, version long, payload long"
    b = spark.createDataFrame(base, schema) if base else spark.createDataFrame([], schema)
    c = spark.createDataFrame(changes, schema) if changes else spark.createDataFrame([], schema)

    once = merge_upsert(b, c, "k", "version")
    got = {(r.k, r.payload) for r in once.collect()}

    want = {k: v for k, _, v in base}
    want.update({k: v for k, _, v in changes})
    assert got == set(want.items())

    twice = merge_upsert(once, c, "k", "version")
    assert {(r.k, r.payload) for r in twice.collect()} == got


@given(base_rows=_rows, change_rows=_rows)
@settings(**SETTINGS)
def test_snapshot_diff_inverts_merge(spark, base_rows, change_rows):
    """#116 consistency with #90: diffing merge(base, changes) against
    base must classify exactly the keys the merge actually changed —
    added = new keys, changed = keys whose payload differs, removed =
    none (upsert never deletes)."""
    from zmaxion_spark.functions.merge import merge_upsert

    base = [(k, 0, v) for k, v in dict(base_rows).items()]
    changes = [(k, 1, v) for k, v in dict(change_rows).items()]
    schema = "k long, version long, payload long"
    b = spark.createDataFrame(base, schema) if base else spark.createDataFrame([], schema)
    c = spark.createDataFrame(changes, schema) if changes else spark.createDataFrame([], schema)
    merged = merge_upsert(b, c, "k", "version")

    a, m = b.alias("a"), merged.alias("m")
    j = a.join(m, F.col("a.k") == F.col("m.k"), "full_outer")
    verdict = (
        F.when(F.col("m.k").isNull(), "removed")
        .when(F.col("a.k").isNull(), "added")
        .when(F.col("a.payload") != F.col("m.payload"), "changed")
        .otherwise("unchanged")
    )
    got = {
        (r[0], r[1])
        for r in j.select(
            F.coalesce(F.col("a.k"), F.col("m.k")), verdict
        ).collect()
    }
    base_d, change_d = dict([(k, v) for k, _, v in base]), dict([(k, v) for k, _, v in changes])
    want = set()
    for k in set(base_d) | set(change_d):
        if k not in base_d:
            want.add((k, "added"))
        elif k in change_d and change_d[k] != base_d[k]:
            want.add((k, "changed"))
        else:
            want.add((k, "unchanged"))
    assert got == want


@given(batch=st.lists(texts, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_chunking_tiles_any_text(spark, batch):
    """#125 invariant for arbitrary text: chunk starts are exactly
    0, stride, 2·stride… < n_words; each chunk has 1..CHUNK words;
    the last chunk ends exactly at n_words (full coverage, no
    overrun)."""
    from zmaxion_spark.queries.pipeline3_q import _CHUNK, _STRIDE

    df = spark.createDataFrame(list(enumerate(batch)), ["doc_id", "text"])
    w = F.split("text", " ")
    starts = F.sequence(F.lit(0), F.size(w) - 1, F.lit(_STRIDE))
    rows = (
        df.select("doc_id", F.size(w).alias("n"), F.explode(starts).alias("start"))
        .withColumn("clen", F.least(F.lit(_CHUNK), F.col("n") - F.col("start")))
        .collect()
    )
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in per_doc.items():
        rs.sort(key=lambda r: r["start"])
        n = rs[0]["n"]
        assert [r["start"] for r in rs] == list(range(0, n, _STRIDE))
        assert all(1 <= r["clen"] <= _CHUNK for r in rs)
        assert rs[-1]["start"] + rs[-1]["clen"] == n


@given(ids=st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=40, unique=True))
@settings(**SETTINGS)
def test_global_shuffle_two_phase_equals_total_order(spark, ids):
    """#128 invariant for arbitrary id sets: per-bucket rank + bucket
    offset reproduces the single total order ROW_NUMBER would give
    over (bucket, hash, id)."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    bkt = F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long") % 8
    t = df.select("doc_id", h.alias("h")).withColumn("bkt", bkt)
    rn = F.row_number().over(Window.partitionBy("bkt").orderBy("h", "doc_id"))
    sizes = t.groupBy("bkt").agg(F.count(F.lit(1)).alias("sz"))
    off = F.sum("sz").over(
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select("bkt", F.coalesce(off, F.lit(0)).alias("offset"))
    two_phase = {
        r["doc_id"]: r["offset"] + r["rn"]
        for r in t.withColumn("rn", rn).join(offsets, "bkt").collect()
    }
    total = {
        r["doc_id"]: r["pos"]
        for r in t.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy("bkt", "h", "doc_id"))
            .alias("pos"),
        ).collect()
    }
    assert two_phase == total


# ---------------------------------------------------------------------------
# Transaction-log model test (#175-#191): random command sequences vs
# an in-memory reference model, checked at head AND at every
# historical version — snapshot isolation, time travel, layout
# invisibility and merge-on-read deletes all at once.
# ---------------------------------------------------------------------------

_cmd = st.sampled_from(["append", "delete", "compact", "overwrite"])


@given(cmds=st.lists(_cmd, min_size=2, max_size=6), data=st.data())
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_txlog_random_history_matches_model(spark, cmds, data):
    import tempfile

    from pyspark.sql import functions as F

    from zmaxion_spark.txlog import TxTable

    t = TxTable(tempfile.mkdtemp(prefix="zmx-hyp-txlog-") + "/t")
    # model[v] = multiset of keys live at version v (keys are ints)
    model_versions: list[list[int]] = []
    live: list[int] = []
    next_key = 0

    def df_of(keys):
        return spark.createDataFrame([(k,) for k in keys], "k bigint")

    for cmd in cmds:
        if cmd == "append" or not model_versions:
            n = data.draw(st.integers(min_value=1, max_value=20))
            keys = list(range(next_key, next_key + n))
            next_key += n
            t.append(df_of(keys))
            live = live + keys
        elif cmd == "delete":
            # keep at least the max key alive: an all-rows delete would
            # make the snapshot legitimately empty (read() raises) and
            # the model would need the same special case — not the
            # invariant under test here
            if not live or max(live) < 1:
                continue
            cut = data.draw(st.integers(min_value=0, max_value=max(live) - 1))
            doomed = [k for k in live if k <= cut]
            if not doomed:
                continue
            t.delete_where(spark, F.col("k") <= cut)
            live = [k for k in live if k > cut]
        elif cmd == "compact":
            t.compact(spark, n_files=1)
            live = list(live)
        elif cmd == "overwrite":
            keys = list(range(next_key, next_key + 5))
            next_key += 5
            t.overwrite(df_of(keys))
            live = keys
        model_versions.append(sorted(live))

    # Head and every historical version must match the model exactly.
    for v, expect in enumerate(model_versions):
        got = sorted(
            r["k"] for r in t.read(spark, version=v).select("k").collect()
        )
        assert got == expect, f"version {v}: {got} != model {expect}"


def _bfs_hops(edges, src, hops):
    """Pure-Python reference: fewest edges from ``src``, up to ``hops``."""
    dist, frontier = {src: 0}, {src}
    for hop in range(1, hops + 1):
        frontier = {d for s, d in edges if s in frontier and d not in dist}
        dist.update(dict.fromkeys(frontier, hop))
    return dist


node_ids = st.integers(min_value=0, max_value=8)


@given(edges=st.lists(st.tuples(node_ids, node_ids), max_size=25))
@example(edges=[(0, 1), (0, 1), (1, 0), (1, 2), (2, 1)])  # duplicates, cycles
@example(edges=[(1, 2), (2, 0), (3, 4)])  # the source has no out-edges
@example(edges=[(i, i + 1) for i in range(7)])  # nodes 6, 7 beyond the bound
@settings(**SETTINGS)
def test_min_plus_hops_matches_bfs(spark, edges):
    """The folded min-plus rounds of #206 give exactly the bounded BFS
    distances: one row per node reached within the hop bound, none
    for nodes first reached later."""
    from zmaxion_spark.queries.graph_q import _BFS_HOPS, _min_plus_hops

    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = _min_plus_hops(e, 0, _BFS_HOPS).collect()
    got = {r.node: r.dist for r in rows}
    assert len(got) == len(rows)
    assert got == _bfs_hops(edges, 0, _BFS_HOPS)
