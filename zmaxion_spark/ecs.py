"""ECS (Entity–Component–System) query layer — the reference's declared
data model ("Stream processing framework with ECS",
/root/reference/README.md:2) mapped onto relational Spark.

The mapping (SURVEY.md §1.1): an entity is a key; a component type is
an entity-keyed DataFrame (archetype/SoA storage ≙ columnar parquet);
a component query (`With<A>, Without<B>`) is an inner-join/anti-join
chain over component tables; a system is a DataFrame transformation
over the matching entities; the scheduler is Catalyst + the Spark DAG
scheduler (dependency-aware parallelism for free — SURVEY §4: zero
custom rules).

Scale notes: component tables share the entity key, so on a cluster
they should be bucketed by it — every `query()` join is then
co-located with no shuffle. `Without` components that carry no data
("markers") join as LEFT ANTI on the key column alone, which prunes
their scan to the key (asserted pushdown/pruning in test_plans.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENTITY = "entity_id"


class World:
    """A registry of component tables keyed by a shared entity id.

    >>> w = World()
    >>> w.register("balance", customers, key="c_custkey",
    ...            cols={"c_acctbal": "balance"})
    >>> w.register("placed_order", orders.select("o_custkey").distinct(),
    ...            key="o_custkey")
    >>> w.query("balance", without=("placed_order",))
    """

    def __init__(self) -> None:
        self._components: dict[str, DataFrame] = {}

    def register(
        self,
        name: str,
        df: DataFrame,
        key: str = ENTITY,
        cols: dict[str, str] | None = None,
    ) -> "World":
        """Attach a component table; `key` becomes the entity id, `cols`
        renames/selects the component's value columns (all non-key
        columns by default)."""
        out = df.withColumnRenamed(key, ENTITY)
        if cols is not None:
            out = out.select(ENTITY, *[F.col(c).alias(a) for c, a in cols.items()])
        self._components[name] = out
        return self

    def component(self, name: str) -> DataFrame:
        return self._components[name]

    def query(self, *with_: str, without: tuple[str, ...] = ()) -> DataFrame:
        """`With<A, B> Without<C>`: entities carrying ALL of `with_`
        (their columns merged) and NONE of `without`.

        Compiles to an inner-join chain on the entity key plus one
        LEFT ANTI join per excluded component — exactly the relational
        reading of an ECS archetype query. Catalyst orders and
        co-locates the joins; with entity-bucketed storage none of
        them shuffle."""
        if not with_:
            raise ValueError("ECS query needs at least one With component")
        out = self._components[with_[0]]
        for name in with_[1:]:
            out = out.join(self._components[name], ENTITY)
        for name in without:
            out = out.join(
                self._components[name].select(ENTITY), ENTITY, "left_anti"
            )
        return out

    def run_system(
        self,
        component: str,
        fn: Callable[[DataFrame], DataFrame],
        with_: tuple[str, ...] = (),
        without: tuple[str, ...] = (),
    ) -> "World":
        """Run a system over the entities matching (component, with_,
        without): matched entities get the function's output, all other
        entities keep their current component values — the ECS tick
        reduced to anti-join + union, both co-located on the entity key.
        The result stays lazy: downstream queries see the updated
        component as a subplan, and Catalyst fuses it."""
        self._components[component] = self._ticked(component, fn, with_, without)
        return self

    def _ticked(
        self,
        component: str,
        fn: Callable[[DataFrame], DataFrame],
        with_: tuple[str, ...],
        without: tuple[str, ...],
    ) -> DataFrame:
        """``component`` after one system tick, not yet stored."""
        old = self._components[component]
        matched = self.query(component, *with_, without=without)
        updated = fn(matched).select(*old.columns)
        untouched = old.join(matched.select(ENTITY), ENTITY, "left_anti")
        return untouched.unionByName(updated)

    def save(self, root: str) -> dict[str, int]:
        """Persist the world: one transaction-logged table (#175) per
        component under ``root/<name>``, each snapshot an atomic
        overwrite commit. Returns {component: committed version} — the
        world's durable tick id. Repeated saves append versions, so
        any historical world state time-travels back (#176)."""
        import os

        from zmaxion_spark.txlog import TxTable

        versions: dict[str, int] = {}
        for name, df in self._components.items():
            versions[name] = TxTable(os.path.join(root, name)).overwrite(df)
        return versions

    @staticmethod
    def despawn(spark, root: str, doomed) -> dict[str, int]:
        """Remove entities from EVERY component table of a persisted
        world — the ECS despawn, and equally the GDPR-erasure shape:
        one deletion-vector commit per component (#189), no file
        rewritten, vectors materialize at the next compaction. Returns
        {component: commit version} for components that held any of
        the entities; components without matches are untouched.

        ``doomed`` may be a Column predicate over the component rows
        ("despawn by predicate"), a DataFrame carrying an entity_id
        column (distributed semi-join delete — the doomed set never
        passes through the driver), or a plain iterable of ids (small
        explicit lists, e.g. one GDPR request)."""
        import os

        from pyspark.sql import Column, DataFrame
        from pyspark.sql import functions as F

        from zmaxion_spark.txlog import TxTable

        versions: dict[str, int] = {}
        for name in sorted(os.listdir(root)):
            t = TxTable(os.path.join(root, name))
            try:
                if isinstance(doomed, DataFrame):
                    versions[name] = t.delete_matching(spark, doomed, ENTITY)
                elif isinstance(doomed, Column):
                    versions[name] = t.delete_where(spark, doomed)
                else:
                    versions[name] = t.delete_where(
                        spark, F.col(ENTITY).isin(list(doomed))
                    )
            except ValueError:
                pass  # no rows matched in this component
        return versions

    @staticmethod
    def load(spark, root: str, version: int | None = None) -> "World":
        """Restore a saved world (optionally at a historical version,
        uniform across components — each save commits every component
        once, so version N is a consistent world-wide snapshot)."""
        import os

        from zmaxion_spark.txlog import TxTable

        w = World()
        for name in sorted(os.listdir(root)):
            t = TxTable(os.path.join(root, name))
            w._components[name] = t.read(spark, version=version)
        return w


class System:
    """A named system: a transformation over entities matching an ECS
    query, writing one component. `reads` declares extra components the
    function consumes (beyond the with_/without match set) so the
    scheduler can prove access conflicts."""

    def __init__(
        self,
        name: str,
        writes: str,
        fn: Callable[[DataFrame], DataFrame],
        with_: tuple[str, ...] = (),
        without: tuple[str, ...] = (),
        reads: tuple[str, ...] = (),
    ) -> None:
        self.name = name
        self.writes = writes
        self.fn = fn
        self.with_ = with_
        self.without = without
        self.reads = reads

    def access(self) -> tuple[set[str], str]:
        """(read set, write component) — the scheduler's conflict unit."""
        return (
            {self.writes, *self.with_, *self.without, *self.reads},
            self.writes,
        )


class Schedule:
    """Deterministic conflict-staged system scheduler — the ECS
    scheduler role (SURVEY §3.1: parallelism comes from proving
    non-overlapping component access), mapped onto Spark.

    Two systems CONFLICT when one writes a component the other reads
    or writes. Each system is placed in the EARLIEST stage where it
    conflicts with nothing already staged, preserving declaration
    order among conflicting systems — so the staging is a pure
    function of the system list. Within a stage every system reads
    the same pre-stage snapshot and writes land together at stage end
    (double-buffering): stage-mates are independent BY CONSTRUCTION,
    and since the component updates are lazy DataFrame plans, Spark's
    DAG scheduler runs their work as one fused job graph — task-level
    parallelism without any custom executor code."""

    def __init__(self, *systems: System) -> None:
        self.systems = list(systems)

    def stages(self) -> list[list[System]]:
        staged: list[list[System]] = []
        placed: list[tuple[set[str], str, int]] = []  # (reads, write, stage)
        for s in self.systems:
            reads, write = s.access()
            # Earliest stage AFTER every conflicting predecessor.
            floor = -1
            for p_reads, p_write, p_stage in placed:
                if write in p_reads or p_write in reads:
                    floor = max(floor, p_stage)
            stage = floor + 1
            while len(staged) <= stage:
                staged.append([])
            staged[stage].append(s)
            placed.append((reads, write, stage))
        return staged

    def run(self, world: World, checkpoint: bool = False) -> World:
        """Execute the schedule. `checkpoint=True` localCheckpoints each
        written component at stage end — in a tick LOOP this is
        mandatory: without it every tick's plan embeds all previous
        ticks (lineage grows unboundedly and re-scans the base tables
        per stage — visible as scan-count blowup in PLANS.md). On a
        cluster prefer reliable `df.checkpoint()` so state survives
        executor loss."""
        for stage in self.stages():
            # Stage-mates write different components (stages() puts two
            # writers of one component in different stages) and the
            # world changes only at stage end, so every system reads
            # pre-stage state.
            updates = {
                s.writes: world._ticked(s.writes, s.fn, s.with_, s.without)
                for s in stage
            }
            for name, df in updates.items():
                world._components[name] = (
                    df.localCheckpoint(eager=True) if checkpoint else df
                )
        return world
