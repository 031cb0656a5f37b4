"""Tap orchestration: config → specs → per-stream sync (reference Q1/Q3).

The reference's sync pipeline (``tap.py:217-242`` + SDK ``Tap.sync_all``):
per selected stream, resolve bookmark → execute SQL with bound params →
conform records → stream maps → flattening → emit messages or batch files →
advance state. Here the same stages compose as DataFrame transforms, and
"execute" is ``spark.sql`` over registered views (or a JDBC source when the
stream config names one). Every target — RECORD or BATCH messages, a
versioned table, a JDBC table — runs through one extract → deliver →
bookmark scaffold, ``SparkTap._sync``, whose docstring states the
consistency invariants, and one multi-stream driver, ``SparkTap.sync_all``,
whose ``commit`` (``versioned_commits``, ``jdbc_commits``) picks the table
and whose ``parallel`` k overlaps k streams' Spark work, output in config order.
"""

from __future__ import annotations

import contextlib
import json
import logging
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from youcruit_tap_rawpostgresql_spark.operators.conform import conform
from youcruit_tap_rawpostgresql_spark.operators.flatten import flatten_struct_columns
from youcruit_tap_rawpostgresql_spark.operators.incremental import (
    apply_replication_filter,
    bookmark_max,
    resolve_starting_bookmark,
)
from youcruit_tap_rawpostgresql_spark.operators.maps import apply_stream_map
from youcruit_tap_rawpostgresql_spark.plans.executor import run_stream_sql
from youcruit_tap_rawpostgresql_spark.sink import (
    BatchManifest,
    emit_record_messages,
    emit_schema_message,
    emit_state_message,
    fits_record_budget,
    write_batch_files,
)
from youcruit_tap_rawpostgresql_spark.spec import StreamSpec, TapConfig
from youcruit_tap_rawpostgresql_spark.state import StateStore

logger = logging.getLogger(__name__)

Commit = Callable[[DataFrame], None]  # one stream's slice into a table

_WHOLESTAGE = "spark.sql.codegen.wholeStage"


@contextlib.contextmanager
def _no_wholestage(spark: SparkSession):
    """Run the block with whole-stage codegen off on ``spark``, then put
    back the session's own setting, set or unset."""
    own = spark.conf.get(_WHOLESTAGE, None)
    spark.conf.set(_WHOLESTAGE, "false")
    try:
        yield
    finally:
        if own is None:
            spark.conf.unset(_WHOLESTAGE)
        else:
            spark.conf.set(_WHOLESTAGE, own)


@dataclass
class SyncResult:
    stream: str
    record_count: int
    new_bookmark: Any | None
    manifests: list[BatchManifest] = field(default_factory=list)


@dataclass
class _Plan:
    """One stream's delivery: ``SparkTap._plan``, ``_fetch``, ``_emit``."""

    spec: StreamSpec
    premap: DataFrame  # the extract; observed in "observe" mode
    df: DataFrame  # ``premap`` after maps and flattening
    mode: str  # "observe" | "persist" | "stream"
    batch: bool
    commit: Commit | None  # into a table, instead of Singer messages
    obs_bm: Observation | None
    plan_s: float
    fetch_s: float | None = None  # None until the fetch ran
    bookmark: Any | None = None
    batches: list | None = None  # observe-mode RECORD: the Arrow batches
    manifests: list[BatchManifest] = field(default_factory=list)
    n: int | None = None  # BATCH and commits: the delivered count

    def release(self) -> None:
        """Drop the fetch's persisted snapshot, if it has one."""
        if self.mode == "persist" and self.fetch_s is not None:
            self.premap.unpersist()


class SparkTap:
    """The engine's ``TapRawPostgreSQL`` equivalent.

    Like the reference's injected-connection mode (``tap.py:147-157``), the
    SparkSession is supplied by the caller — nothing here constructs one.
    """

    def __init__(
        self,
        config: TapConfig,
        spark: SparkSession,
        state: StateStore | None = None,
        write: Callable[[str], None] | None = None,
        catalog: dict | None = None,
    ):
        self.config = config
        self.spark = spark
        self.state = state or StateStore()
        self.write = write or sys.stdout.write
        # Singer input CATALOG (the `catalog` capability, reference
        # tap.py:252): drives stream selection and replication overrides
        # — applied in _effective_streams
        self.catalog = catalog

    def _effective_streams(self) -> list[StreamSpec]:
        """Resolve stream-level map directives (Singer SDK parity,
        reference capability tap.py:256): a stream whose map config is
        ``None`` is SUPPRESSED; a map under a new name with
        ``__source__`` duplicates/aliases that source stream (its
        transforms then apply under the alias's own map config)."""
        import dataclasses

        from youcruit_tap_rawpostgresql_spark.spec import SpecError

        by_name = {s.name: s for s in self.config.streams}
        out = [
            s
            for s in self.config.streams
            if not (
                s.name in self.config.stream_maps
                and self.config.stream_maps[s.name] is None
            )
        ]
        for alias, cfg in self.config.stream_maps.items():
            if isinstance(cfg, dict) and "__source__" in cfg:
                src = by_name.get(cfg["__source__"])
                if src is None:
                    raise SpecError(
                        f"stream map {alias!r}: unknown __source__ "
                        f"{cfg['__source__']!r}"
                    )
                out.append(dataclasses.replace(src, name=alias))
        if self.catalog is not None:
            out = [self._apply_catalog_entry(s) for s in out]
            out = [s for s in out if s is not None]
        return out

    def _apply_catalog_entry(self, spec: StreamSpec) -> "StreamSpec | None":
        """Apply the input catalog's metadata to one stream (Singer
        `catalog` capability): an entry matched by tap_stream_id (or bare
        stream name) contributes ``selected`` (False → stream dropped —
        and a stream with NO catalog entry is dropped too, the Singer
        selection contract), ``replication-method`` (forces
        FULL_TABLE/INCREMENTAL, the exact combination reference
        client.py:285-298 handles), and ``replication-key``."""
        import dataclasses

        # Singer semantics key on tap_stream_id — an exact tap_stream_id
        # match ALWAYS wins. Only when no entry's tap_stream_id matches
        # does the bare `stream` field count (a catalog written with
        # stream=name but a differently-formatted tap_stream_id must not
        # silently drop the stream). The two-pass order matters with
        # multiple schemas exposing same-named tables: two entries with
        # stream='users' and tap_stream_ids 'schema1-users' /
        # 'schema2-users' must each apply to THEIR stream, never
        # first-entry-wins.
        names = {spec.fully_qualified_name, spec.name}
        entry = None
        for ent in self.catalog.get("streams", []):
            if ent.get("tap_stream_id") in names:
                entry = ent
                break
        if entry is None:
            for ent in self.catalog.get("streams", []):
                if ent.get("stream") in names:
                    entry = ent
                    break
        if entry is None:
            return None
        md = {}
        for item in entry.get("metadata", []):
            if item.get("breadcrumb") == []:
                md = item.get("metadata", {})
                break
        if md.get("selected") is False:
            return None
        changes = {}
        if md.get("replication-method"):
            changes["forced_replication_method"] = md["replication-method"]
        if md.get("replication-key"):
            changes["replication_key"] = md["replication-key"]
        return dataclasses.replace(spec, **changes) if changes else spec

    def _extract(self, spec: StreamSpec) -> tuple[DataFrame, Any]:
        """Returns (conformed_df, starting_bookmark): the stream SQL (or
        JDBC query) with the bookmark bound, conformed. When the SQL has
        no ``:rep_key_val`` marker, the incremental predicate applies as a
        DataFrame filter instead (operators/incremental.py path b) —
        otherwise a replication-key stream without the marker would
        silently re-emit the full table every sync while still advancing
        state."""
        bookmark = (
            resolve_starting_bookmark(spec, self.state)
            if spec.replication_key
            else None
        )
        uses_marker = ":rep_key_val" in spec.sql
        params = {"rep_key_val": bookmark} if uses_marker else None
        if self.config.jdbc is not None:
            df = self._run_jdbc_stream(spec, params)
        else:
            df = run_stream_sql(
                self.spark,
                spec,
                params=params,
                standard_conforming_strings=(
                    self.config.standard_conforming_strings
                ),
            )
        df = conform(df, spec)
        if spec.replication_key and bookmark is not None and not uses_marker:
            df = apply_replication_filter(df, spec, bookmark)
        return df, bookmark

    def _map(self, spec: StreamSpec, df: DataFrame) -> DataFrame:
        """Stream maps, then flattening; ``df`` itself when neither
        applies."""
        map_cfg = self.config.stream_maps.get(spec.name)
        if map_cfg:
            df = apply_stream_map(
                df, map_cfg, map_vars=self.config.stream_map_config
            )
        if self.config.flattening_enabled:
            df = flatten_struct_columns(df, self.config.flattening_max_depth)
        return df

    def _prepare(self, spec: StreamSpec) -> tuple[DataFrame, DataFrame, Any]:
        """Returns (mapped_df, conformed_premap_df, bookmark)."""
        premap, bookmark = self._extract(spec)
        return self._map(spec, premap), premap, bookmark

    def _run_jdbc_stream(
        self, spec: StreamSpec, params: dict[str, Any] | None
    ) -> DataFrame:
        """Live-source mode: ship the stream SQL to the source database
        (reference ``client.py:300-304`` — sqlalchemy text + bound params
        executed BY the source engine, results streamed back).

        The SQL goes over VERBATIM in the source's dialect — no PG→Spark
        translation, exactly like the reference pipes its SQL to
        PostgreSQL untouched. ``:rep_key_val`` binds as a SQL-STANDARD
        quoted literal into the pushed-down text (style="standard":
        doubled-quote escaping only — this text executes on the SOURCE
        engine, where Spark's backslash escaping both mis-parses and is
        an injection surface; the JDBC boundary has no typed parameter
        channel). An incremental stream WITHOUT the marker takes the
        DataFrame-filter path afterwards — Spark pushes that predicate
        into the JDBC scan (PushedFilters), so the source still prunes
        server-side either way."""
        from youcruit_tap_rawpostgresql_spark.plans.dialect import bind_params
        from youcruit_tap_rawpostgresql_spark.sources.jdbc import read_jdbc_stream

        sql = bind_params(spec.sql, params, style="standard") if params else spec.sql
        partitioning = dict(spec.jdbc_partition or {})
        return read_jdbc_stream(self.spark, self.config.jdbc, sql, **partitioning)

    def _sync(
        self,
        spec: StreamSpec,
        batch: bool = False,
        commit: Commit | None = None,
    ) -> SyncResult:
        """Extract → deliver → bookmark for every target: RECORD messages,
        BATCH files (``batch``), or a ``commit`` of the slice into a table
        (the versioned and JDBC targets). It is three steps, ``_plan``,
        ``_fetch`` and ``_emit``. The consistency invariants live here, once:

        - The plan step builds the stream's DataFrames and runs no Spark
          job: no action, no ``persist`` (which registers a cache entry at
          once). The fetch step runs Spark work that nothing outside the
          process sees; the emit step writes, commits and moves state.
        - The bookmark is the replication key's ``max`` over the PRE-map
          frame (Singer parity: a map that masks, renames or drops the key
          cannot corrupt state), taken from the same execution the
          delivery reads. So it never passes a row that was not emitted or
          committed, also for a live (JDBC) source that returns different
          rows on re-execution. The delivery reads the extract one of
          three ways:

          - observe (BATCH, and RECORD whose pre-map size estimate fits
            ``sink.RECORD_COLLECT_BUDGET``): the bookmark is an
            ``Observation`` on the delivery's one action. An
            ``Observation`` reports only the FIRST action on the observed
            frame, so nothing may run an action on it before the delivery;
          - persist (commits, and keyed RECORD over the budget, whose
            ``toLocalIterator`` never completes an ``Observation``): the
            fetch persists the extract, and ONE aggregate over it gives
            the count and the bookmark while materializing it; the mapped
            frame, built on the same object, reads the same snapshot. A
            JDBC relation reports ``spark.sql.defaultSizeInBytes``, so live
            RECORD streams take this path; the estimate ignores filter
            selectivity, so a small delta over a very large table does too;
          - stream (keyless RECORD over the budget): rows stream one
            partition at a time with no snapshot; there is no bookmark.
        - ``record_count`` counts the POST-map frame (what was delivered;
          a filtering map must not overstate it): the emitted lines, the
          BATCH write's observed count, or for a commit the aggregate's
          count when no map changed the frame, else a ``count()`` served
          from the snapshot.
        - The bookmark is set on the calling thread only, and only AFTER the
          delivery succeeds, followed by the STATE line (Singer outputs) or
          a ``StateStore.flush`` (commits: a keyless append is not
          idempotent, so losing an in-memory advance would re-append the
          slice). A failed delivery leaves state untouched, and the next
          sync re-extracts the same slice.
        - ``record_count`` and ``sync_duration`` (the three steps' time) go
          out as Singer SDK-style METRIC lines on the logger, never stdout
          (the message stream must stay parseable).
        - A call that writes RECORD lines (``sync_stream``, or ``sync_all``
          with no BATCH files and no ``commit``) runs with whole-stage
          codegen off (``_no_wholestage``), in every delivery mode, and
          puts the session's own setting back when it returns or fails.
          Each sync binds a new bookmark literal into the generated stage
          source, so a fused stage compiles anew every sync, once on the
          driver and once in the task. BATCH writes and table commits keep
          whole-stage codegen."""
        return self._emit(self._fetch(self._plan(spec, batch, commit)))

    def _plan(
        self, spec: StreamSpec, batch: bool = False, commit: Commit | None = None
    ) -> _Plan:
        """The plan step of ``_sync``: the extract, the delivery mode, the
        bookmark ``Observation`` and the maps. Runs no Spark job and
        persists nothing, so it may run ahead of another stream's
        delivery (``sync_all``)."""
        t0 = time.perf_counter()
        rk = spec.replication_key
        premap, _ = self._extract(spec)
        if commit is None and (batch or fits_record_budget(premap)):
            mode = "observe"
        elif commit is not None or rk is not None:
            mode = "persist"
        else:
            mode = "stream"
        obs_bm = None
        if mode == "observe" and rk:
            obs_bm = Observation()
            premap = premap.observe(obs_bm, bookmark_max(premap, rk))
        # maps derive from the observed or (once delivered) persisted
        # frame, so the delivery reads the extract the bookmark comes from
        df = self._map(spec, premap)
        return _Plan(
            spec, premap, df, mode, batch, commit, obs_bm, time.perf_counter() - t0
        )

    def _fetch(self, plan: _Plan) -> _Plan:
        """The fetch step of ``_sync``: persist + count/bookmark aggregate,
        Arrow collect or BATCH write. A failed fetch drops its snapshot."""
        t0 = time.perf_counter()
        spec, premap, df = plan.spec, plan.premap, plan.df
        rk = spec.replication_key
        if plan.mode == "persist":
            # the same object the maps derive from: they read the snapshot
            premap.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                aggs = [F.count(F.lit(1)).alias("n")]
                if rk:
                    aggs.append(bookmark_max(premap, rk))
                row = premap.agg(*aggs).first()
                plan.bookmark = row["mx"] if rk else None
                if plan.commit is not None:
                    plan.n = row["n"] if df is premap else df.count()
            except BaseException:
                premap.unpersist()
                raise
        elif plan.batch:
            obs_n = Observation()
            plan.manifests = write_batch_files(
                df.observe(obs_n, F.count(F.lit(1)).alias("n")),
                spec,
                self.config.batch,
            )
            plan.n = obs_n.get["n"]
        elif plan.mode == "observe":
            # the batches as the JVM sends them (``emit_record_messages``)
            plan.batches = df._collect_as_arrow()
        if plan.obs_bm is not None:
            plan.bookmark = plan.obs_bm.get["mx"]
        plan.fetch_s = time.perf_counter() - t0
        return plan

    def _emit(self, plan: _Plan) -> SyncResult:
        """The emit step of ``_sync``: commit or lines (``toLocalIterator``
        included), bookmark, STATE or ``flush``, METRICs; releases the plan."""
        t0 = time.perf_counter()
        spec, n, commit = plan.spec, plan.n, plan.commit
        fqn, rk = spec.fully_qualified_name, spec.replication_key
        try:
            if commit is not None:
                commit(plan.df)
            else:
                emit_schema_message(spec, self.write)
                for m in plan.manifests:
                    self.write(json.dumps(m.to_message(fqn)) + "\n")
                if not plan.batch:
                    rows = plan.df if plan.batches is None else plan.batches
                    n = emit_record_messages(
                        rows, spec, self.write, collect=plan.mode == "observe"
                    )
        finally:
            plan.release()
        new_bm = plan.bookmark
        if new_bm is not None:
            self.state.set_bookmark(fqn, rk, new_bm)
            new_bm = self.state.get_bookmark(fqn)
        if commit is None:
            emit_state_message(self.state.to_dict(), self.write)
        else:
            self.state.flush()
        tags = {"stream": fqn}
        duration = plan.plan_s + plan.fetch_s + time.perf_counter() - t0
        for kind, metric, value in (
            ("counter", "record_count", n),
            ("timer", "sync_duration", round(duration, 4)),
        ):
            logger.info(
                "METRIC: %s",
                json.dumps(
                    {"type": kind, "metric": metric, "value": value, "tags": tags}
                ),
            )
        return SyncResult(
            stream=fqn,
            record_count=n,
            new_bookmark=new_bm,
            manifests=plan.manifests,
        )

    def sync_stream(self, spec: StreamSpec, batch_mode: bool = False) -> SyncResult:
        """Sync one stream: SCHEMA, then RECORD messages or (``batch_mode``
        with a batch config) BATCH manifests, then STATE. Consistency
        invariants: ``_sync``."""
        batch = bool(batch_mode and self.config.batch)
        with contextlib.nullcontext() if batch else _no_wholestage(self.spark):
            return self._sync(spec, batch=batch)

    def sync_all(
        self,
        batch_mode: bool = False,
        parallel: int = 1,
        commit: Callable[[StreamSpec], Commit] | None = None,
    ) -> list[SyncResult]:
        """Sync every configured stream: Singer messages (RECORD, or BATCH
        with ``batch_mode`` and a batch config), or one table per stream
        when ``commit`` builds each stream's commit (``versioned_commits``,
        ``jdbc_commits``), all before the first stream syncs.

        For any ``parallel`` k the output, tables and state equal per-stream
        ``sync_stream`` (or ``sync_stream_to_*``) calls: the calling thread
        emits (``_emit``) each stream in config order while workers plan
        (no Spark job) the k streams after it. With k = 1 the calling thread
        fetches each stream itself, so one stream's Spark work runs at a
        time; with k > 1 workers also fetch (``_fetch``) the k - 1 streams
        after it, so up to k streams' Spark work overlaps and at most k
        fetched results (about k × ``sink.RECORD_COLLECT_BUDGET`` of Arrow
        batches) are held. Errors surface in config order: after a failed
        stream no later stream commits, writes a line or moves its
        bookmark, and the work in flight is waited for and its snapshots
        released. A discarded fetch's BATCH files stay on disk with no
        manifest line, as after a failed BATCH write; a discarded plan's
        ``Observation`` (or a failed BATCH write's count) stays registered
        with the session, as Spark has no public unregister call: at most
        2 × (k + 1) per failed call. A stream sharing the fully qualified
        name (and bookmark) of an earlier stream is planned only after that
        stream is emitted. A persist-mode stream whose extract has the same
        plan as an earlier stream's (a ``__source__`` alias, or equal SQL
        spelled differently) is fetched only after that stream is emitted:
        Spark's cache matches plans (``DataFrame.sameSemantics``), so equal
        extracts share one cache entry, which the earlier stream's release
        drops. Workers inherit the caller's local properties and tags in
        pyspark's pinned-thread mode (the default).
        """
        from concurrent.futures import Future, ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        streams = self._effective_streams()
        fqns = [s.fully_qualified_name for s in streams]
        batch = bool(batch_mode and self.config.batch)
        args = [(s, batch, commit(s) if commit else None) for s in streams]
        k = max(1, parallel)
        plans: list[Future] = []  # streams 0 .. the last planned

        def fetch(j: int) -> _Plan:
            plan = plans[j].result()
            if plan.mode == "persist" and any(
                plan.premap.sameSemantics(p.result().premap) for p in plans[:j]
            ):
                return plan  # the calling thread fetches it (docstring)
            return self._fetch(plan)

        # outside pinned-thread mode (PYSPARK_PIN_THREAD=false) pyspark
        # returns its argument, the session, not a decorator
        inherit = inheritable_thread_target(self.spark)
        on_worker = (lambda f: f) if inherit is self.spark else inherit
        record = commit is None and not batch
        results = []
        fetched: dict[int, Future] = {}  # streams i+1 .. i+k-1
        with (
            _no_wholestage(self.spark) if record else contextlib.nullcontext(),
            ThreadPoolExecutor(max_workers=k) as pool,
        ):
            try:
                for i in range(len(streams)):
                    if i == len(plans):  # not planned ahead (docstring)
                        plans.append(Future())
                        plans[i].set_result(self._plan(*args[i]))
                    plan = (fetched.pop(i, None) or plans[i]).result()
                    while len(plans) <= min(i + k, len(streams) - 1) and (
                        fqns[len(plans)] not in fqns[i:len(plans)]
                    ):
                        plans.append(pool.submit(on_worker(self._plan), *args[len(plans)]))
                    for j in range(i + 1, min(i + k, len(plans))):
                        if j not in fetched:
                            fetched[j] = pool.submit(on_worker(fetch), j)
                    if plan.fetch_s is None:
                        self._fetch(plan)
                    results.append(self._emit(plan))
            except BaseException:
                for j in range(i + 1, len(plans)):
                    f = fetched.get(j, plans[j])
                    if f.exception() is None:  # else raised already
                        f.result().release()
                raise
        self.state.flush()
        return results

    def sync_stream_to_versioned(self, spec: StreamSpec, root: str) -> SyncResult:
        """Sync one stream into a versioned snapshot table
        (``sources/versioned.py``) — the warehouse-target mode. Every sync,
        the first included, lands its slice through
        ``versioned.commit_slice``: a statistics-PRUNED upsert on the key
        properties — single or composite, Singer's ``key_properties`` is
        a list (reference tap.py:92-99) — or an append when the stream
        declares no keys. A keyed slice with a duplicate or NULL key is
        rejected (``ValueError``) before anything is committed, so the
        table and the bookmark stay where they were. The current version
        always equals source state for the synced key range, and every
        prior sync stays time-travel readable. The keyed upsert is
        idempotent, so a re-run after a failed commit converges
        (at-least-once extract, exactly-once visible state).
        ``record_count`` is the slice synced THIS run, never a full-table
        count. Consistency invariants: ``_sync``."""
        return self._sync(spec, commit=self._versioned_commit(spec, root))

    def _versioned_commit(self, spec: StreamSpec, root: str) -> Commit:
        from youcruit_tap_rawpostgresql_spark.sources import versioned

        keys = list(spec.key_properties)
        return lambda df: versioned.commit_slice(self.spark, df, root, keys, op="sync")

    def versioned_commits(self, base: str) -> Callable[[StreamSpec], Commit]:
        """``sync_all``'s commits into one versioned table per stream
        (``sync_stream_to_versioned``) at ``base/<fully qualified name>``,
        so streams named alike in different schemas do not share a table.
        A stream whose table exists only at the pre-FQN ``base/<name>``
        keeps syncing it, with a notice on stderr, rather than orphaning
        its history; not when another stream shares the bare name, as
        both would then fall back onto one table."""
        import os

        from youcruit_tap_rawpostgresql_spark.sources import versioned

        names = [s.name for s in self._effective_streams()]

        def commits(spec: StreamSpec) -> Commit:
            fqn = spec.fully_qualified_name
            root = os.path.join(base, fqn)
            legacy = os.path.join(base, spec.name)
            if (
                names.count(spec.name) == 1
                and versioned.current_version(root) is None
                and versioned.current_version(legacy) is not None
            ):
                print(
                    f"-- {fqn}: using legacy versioned root {legacy!r} "
                    f"(rename it to {fqn!r} to migrate)",
                    file=sys.stderr,
                )
                root = legacy
            return self._versioned_commit(spec, root)

        return commits

    def sync_stream_to_jdbc(
        self, spec: StreamSpec, target: dict, mode: str = "append"
    ) -> SyncResult:
        """Sync one stream INTO a warehouse table over JDBC — the LOAD half
        of extract-load (BASELINE.json north star: "Spark JDBC source +
        DataFrame writes"). ``target`` takes the same connection shape as
        ``TapConfig.jdbc`` (jdbc_url/host/driver/user/password) plus
        ``table``, defaulting to the FULLY QUALIFIED stream name with
        non-identifier characters mapped to ``_``
        (``postgres_public_people``) — same-named streams in different
        schemas/databases must not load into one table. ``mode`` is
        Spark's JDBC writer semantics: "append" for incremental slices,
        "overwrite" for full refresh (truncate-and-reload). Keyed upserts
        belong to the versioned-table target (``sync_stream_to_versioned``)
        — plain JDBC has no engine-portable MERGE.

        A plain JDBC append is NOT idempotent: a crash between the write
        and the state flush that follows it, or a re-run after a mid-write
        failure, can duplicate the slice; exactly-once needs the
        idempotent targets (versioned upsert / batch manifests).
        Consistency invariants: ``_sync``."""
        return self._sync(spec, commit=self.jdbc_commits(target, mode)(spec))

    def jdbc_commits(
        self, target: dict, mode: str = "append"
    ) -> Callable[[StreamSpec], Commit]:
        """``sync_all``'s commits into one JDBC table per stream
        (``sync_stream_to_jdbc``)."""
        import re

        from youcruit_tap_rawpostgresql_spark.sources.jdbc import jdbc_url

        opts = {
            k: target[k]
            for k in ("driver", "createTableColumnTypes")
            if target.get(k)
        }
        for k in ("user", "password"):
            if target.get(k) is not None:
                opts[k] = str(target[k])

        def commits(spec: StreamSpec) -> Commit:
            fqn = spec.fully_qualified_name
            table = target.get("table", re.sub(r"\W", "_", fqn))
            return lambda df: (
                df.write.format("jdbc")
                .options(url=jdbc_url(target), dbtable=table, **opts)
                .mode(mode)
                .save()
            )

        return commits
