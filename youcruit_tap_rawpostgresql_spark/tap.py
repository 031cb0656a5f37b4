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
whose ``commit`` (``versioned_commits``, ``jdbc_commits``) picks the table.
"""

from __future__ import annotations

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


@dataclass
class SyncResult:
    stream: str
    record_count: int
    new_bookmark: Any | None
    manifests: list[BatchManifest] = field(default_factory=list)


@dataclass
class _Plan:
    """One stream's delivery, planned (``SparkTap._plan``) and not yet run
    (``SparkTap._deliver``)."""

    spec: StreamSpec
    premap: DataFrame  # the extract; observed in "observe" mode
    df: DataFrame  # ``premap`` after maps and flattening
    mode: str  # "observe" | "persist" | "stream"
    batch: bool
    obs_bm: Observation | None
    plan_s: float


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
        import threading

        self.config = config
        self.spark = spark
        self.state = state or StateStore()
        self.write = write or sys.stdout.write
        # Singer input CATALOG (the `catalog` capability, reference
        # tap.py:252): drives stream selection and replication overrides
        # — applied in _effective_streams
        self.catalog = catalog
        # serializes bookmark-advance + STATE serialization + STATE write:
        # without it, parallel workers mutate the bookmarks dict while
        # another thread's json.dumps iterates it (RuntimeError), and a
        # stale snapshot could be the LAST state line a target persists
        self._state_lock = threading.Lock()

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
        from youcruit_tap_rawpostgresql_spark.spec import SpecError

        if not spec.sql or not spec.sql.strip():
            raise SpecError("sql must not be empty")  # reference client.py:255-258
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
        (the versioned and JDBC targets). It is two steps, ``_plan`` then
        ``_deliver``. The consistency invariants live here, once:

        - The plan step builds the stream's DataFrames and runs no Spark
          job: no action, no ``persist`` (which registers a cache entry at
          once). Everything that runs a job, writes a line or touches state
          is in the delivery step.
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
            delivery persists the extract, and ONE aggregate over it gives
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
        - The bookmark is stored under ``_state_lock`` only AFTER the
          delivery succeeds, followed by the STATE line (Singer outputs) or
          a ``StateStore.flush`` (commits: a keyless append is not
          idempotent, so losing an in-memory advance would re-append the
          slice). A failed delivery leaves state untouched, and the next
          sync re-extracts the same slice.
        - ``record_count`` and ``sync_duration`` (the two steps' time) go
          out as Singer SDK-style METRIC lines on the logger, never stdout
          (the message stream must stay parseable)."""
        return self._deliver(
            self._plan(spec, batch=batch, commit=commit is not None), commit
        )

    def _plan(
        self, spec: StreamSpec, batch: bool = False, commit: bool = False
    ) -> _Plan:
        """The plan step of ``_sync``: the extract, the delivery mode, the
        bookmark ``Observation`` and the maps. Runs no Spark job and
        persists nothing, so it may run ahead of another stream's
        delivery (``sync_all``)."""
        t0 = time.perf_counter()
        rk = spec.replication_key
        premap, _ = self._extract(spec)
        if not commit and (batch or fits_record_budget(premap)):
            mode = "observe"
        elif commit or rk is not None:
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
            spec, premap, df, mode, batch, obs_bm, time.perf_counter() - t0
        )

    def _deliver(self, plan: _Plan, commit: Commit | None = None) -> SyncResult:
        """The delivery step of ``_sync``: every Spark action, every
        output line, the bookmark and the METRIC lines."""
        t0 = time.perf_counter()
        spec, premap, df = plan.spec, plan.premap, plan.df
        rk = spec.replication_key
        persist = plan.mode == "persist"
        row = None
        manifests: list[BatchManifest] = []
        if persist:
            # the same object the maps derive from: they read the snapshot
            premap.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if persist:
                aggs = [F.count(F.lit(1)).alias("n")]
                if rk:
                    aggs.append(bookmark_max(premap, rk))
                row = premap.agg(*aggs).first()
            if commit is not None:
                n = row["n"] if df is premap else df.count()
                commit(df)
            elif plan.batch:
                obs_n = Observation()
                emit_schema_message(spec, self.write)
                manifests = write_batch_files(
                    df.observe(obs_n, F.count(F.lit(1)).alias("n")),
                    spec,
                    self.config.batch,
                )
                for m in manifests:
                    self.write(
                        json.dumps(m.to_message(spec.fully_qualified_name)) + "\n"
                    )
                n = obs_n.get["n"]
            else:
                emit_schema_message(spec, self.write)
                n = emit_record_messages(
                    df, spec, self.write, collect=plan.mode == "observe"
                )
        finally:
            if persist:
                premap.unpersist()
        if plan.obs_bm is not None:
            new_bm = plan.obs_bm.get["mx"]
        else:
            new_bm = row["mx"] if persist and rk else None
        # only the dict mutation and the consistent STATE snapshot+write
        # serialize; the Spark jobs above run outside the lock (parallel
        # streams keep their jobs concurrent)
        with self._state_lock:
            if new_bm is not None:
                self.state.set_bookmark(spec.fully_qualified_name, rk, new_bm)
                new_bm = self.state.get_bookmark(spec.fully_qualified_name)
            if commit is None:
                emit_state_message(self.state.to_dict(), self.write)
            else:
                self.state.flush()
        tags = {"stream": spec.fully_qualified_name}
        duration = plan.plan_s + time.perf_counter() - t0
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
            stream=spec.fully_qualified_name,
            record_count=n,
            new_bookmark=new_bm,
            manifests=manifests,
        )

    def sync_stream(self, spec: StreamSpec, batch_mode: bool = False) -> SyncResult:
        """Sync one stream: SCHEMA, then RECORD messages or (``batch_mode``
        with a batch config) BATCH manifests, then STATE. Consistency
        invariants: ``_sync``."""
        return self._sync(spec, batch=bool(batch_mode and self.config.batch))

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

        With ``parallel <= 1`` the streams sync in config order, pipelined:
        one worker thread plans stream i+1 (``_plan``: SQL translation,
        analysis, maps; no Spark job) while the calling thread delivers
        stream i. The calling thread runs every Spark action, writes every
        line, makes every commit, sets every bookmark and emits every STATE
        line, in config order, so the output, tables and state are the same
        as per-stream ``sync_stream`` (or ``sync_stream_to_*``) calls, and
        one stream's Spark work runs at a time. An error from stream i+1's
        plan is raised only once stream i is delivered; a failed delivery
        waits for the plan in flight and discards it, so no later stream
        commits, writes a line or moves state. In pyspark's pinned-thread
        mode (the default) the planner inherits the caller's local
        properties (job group, description) and tags. A stream that shares
        the fully qualified name, and so the bookmark, of the stream before
        it is planned only after that stream is delivered.

        ``parallel > 1`` lifts the reference's architectural bound of one
        SQLAlchemy connection syncing streams sequentially
        (``client.py:106-119``): each worker thread submits its stream's
        Spark jobs concurrently and the scheduler interleaves them across
        the cluster. Singer output stays valid under interleaving —
        RECORD messages carry their stream name and each stream's SCHEMA
        is emitted before its records; a line-level lock prevents torn
        writes. Results keep config order regardless of completion order.
        """
        from concurrent.futures import ThreadPoolExecutor

        streams = self._effective_streams()
        batch = bool(batch_mode and self.config.batch)
        commits = [commit(s) if commit else None for s in streams]
        if parallel <= 1:
            from pyspark import inheritable_thread_target

            results = []
            with ThreadPoolExecutor(max_workers=1) as planner:
                # outside pinned-thread mode (PYSPARK_PIN_THREAD=false)
                # pyspark returns its argument, the session, not a decorator
                inherit = inheritable_thread_target(self.spark)
                plan_ahead = (
                    self._plan if inherit is self.spark else inherit(self._plan)
                )
                ahead = None  # the next stream's plan, in flight
                table = commit is not None  # a table target
                for spec, nxt, c in zip(streams, streams[1:] + [None], commits):
                    plan = ahead.result() if ahead else self._plan(spec, batch, table)
                    ahead = None
                    fqn = spec.fully_qualified_name
                    if nxt and nxt.fully_qualified_name != fqn:
                        ahead = planner.submit(plan_ahead, nxt, batch, table)
                    results.append(self._deliver(plan, c))
        else:
            import threading

            lock = threading.Lock()
            inner_write = self.write

            def locked_write(line: str) -> None:
                with lock:
                    inner_write(line)

            self.write = locked_write
            try:
                with ThreadPoolExecutor(max_workers=parallel) as pool:
                    results = list(
                        pool.map(lambda s, c: self._sync(s, batch, c), streams, commits)
                    )
            finally:
                self.write = inner_write
        self.state.flush()
        return results

    def sync_stream_to_versioned(self, spec: StreamSpec, root: str) -> SyncResult:
        """Sync one stream into a versioned snapshot table
        (``sources/versioned.py``) — the warehouse-target mode: the first
        sync commits a full snapshot; each later sync commits its
        incremental slice as a statistics-PRUNED upsert on the key
        properties — single or composite, Singer's ``key_properties`` is
        a list (reference tap.py:92-99) — or an append when the stream
        declares no keys. The current version always equals source state
        for the synced key range, and every prior sync stays time-travel
        readable. The keyed upsert is idempotent, so a re-run after a
        failed commit converges (at-least-once extract, exactly-once
        visible state). ``record_count`` is the slice synced THIS run,
        never a full-table count. Consistency invariants: ``_sync``."""
        return self._sync(spec, commit=self._versioned_commit(spec, root))

    def _versioned_commit(self, spec: StreamSpec, root: str) -> Commit:
        from youcruit_tap_rawpostgresql_spark.sources import versioned

        def commit(df: DataFrame) -> None:
            # composite keys upsert on all columns, with per-column
            # statistics pruning
            if versioned.current_version(root) is None:
                versioned.commit_snapshot(
                    df, root, mode="overwrite", op="initial-sync",
                    stats_columns=spec.key_properties or None,
                )
            elif spec.key_properties:
                # statistics-pruned: only files overlapping the slice's
                # key span are rewritten — incremental sync cost follows
                # the delta's key range, not table size
                versioned.upsert_snapshot_pruned(
                    self.spark, df, root, list(spec.key_properties)
                )
            else:
                versioned.commit_snapshot(
                    df, root, mode="append", op="incremental-append"
                )

        return commit

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
