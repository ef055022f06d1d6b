"""PySpark wrapper for the graft index subsystem (py4j delegation).

Reference analogue: python/hyperspace/hyperspace.py — re-derived for the
graft API. Everything delegates to the Scala `graft.Graft` facade through
the live SparkSession's JVM gateway; DataFrames cross the boundary as
their `_jdf` handles.

Requires the graft jar on the driver classpath and (for transparent
acceleration) `spark.sql.extensions=graft.GraftSparkExtension`.

Executed end-to-end by graft.index.PythonWrapperSpec: a py4j
GatewayServer wired to the test JVM's SparkSession runs
python/tests/wrapper_drive.py, which imports this module with the real
pyspark library and drives createIndex / indexes / annSearch / annRecall
/ deleteIndex across the bridge. The py4j plumbing follows the standard
pyspark conventions (spark._jvm / spark._jsparkSession /
DataFrame(jdf, spark)).
"""

from pyspark.sql import DataFrame

from .indexconfig import (CoveringIndexConfig, ZOrderIndexConfig,
                          DataSkippingIndexConfig, IvfIndexConfig,
                          MinHashIndexConfig)


class Graft:
    """Index lifecycle + introspection, mirroring Scala `graft.Graft`.

    >>> g = Graft(spark)
    >>> g.create_index(df, CoveringIndexConfig("idx", ["k"], ["v"]))
    >>> g.indexes().show()
    """

    def __init__(self, spark):
        self.spark = spark
        self._jvm = spark._jvm
        self._jgraft = self._jvm.graft.Graft(spark._jsparkSession)

    # ------------------------------------------------------------ helpers

    def _from_seq(self, jseq):
        """Scala Seq -> java List (py4j-iterable)."""
        return self._jvm.scala.collection.JavaConverters.seqAsJavaList(jseq)

    def _to_seq(self, pylist):
        return self._jvm.PythonUtils.toSeq(pylist)

    def _to_map(self, pydict):
        return self._jvm.PythonUtils.toScalaMap(pydict)

    def _jconfig(self, config):
        if isinstance(config, CoveringIndexConfig):
            # py4j resolves the FULL constructor (Scala default args are
            # compile-time sugar): the 4th arg is Option[Int]
            nb = getattr(config, "num_buckets", None)
            jopt = (self._jvm.scala.Option.empty() if nb is None
                    else self._jvm.scala.Some(int(nb)))
            return self._jvm.graft.index.covering.CoveringIndexConfig(
                config.index_name,
                self._to_seq(config.indexed_columns),
                self._to_seq(config.included_columns),
                jopt)
        if isinstance(config, ZOrderIndexConfig):
            return self._jvm.graft.index.zorder.ZOrderIndexConfig(
                config.index_name,
                self._to_seq(config.indexed_columns),
                self._to_seq(config.included_columns))
        if isinstance(config, IvfIndexConfig):
            return self._jvm.graft.index.ivf.IvfIndexConfig(
                config.index_name, config.id_column, config.vector_column,
                config.k, config.max_iter,
                getattr(config, "pq_m", 0), getattr(config, "pq_iter", 0))
        if isinstance(config, MinHashIndexConfig):
            return self._jvm.graft.index.minhash.MinHashIndexConfig(
                config.index_name, config.id_column, config.text_column,
                config.num_perm, config.bands)
        if isinstance(config, DataSkippingIndexConfig):
            jsketches = [self._jvm.graft.index.dataskipping.SketchSpec(
                s.kind, s.expr, self._to_map(s.params)) for s in config.sketches]
            return self._jvm.graft.index.dataskipping.DataSkippingIndexConfig(
                config.index_name, self._to_seq(jsketches))
        raise TypeError("unsupported index config: %r" % (config,))

    def _df(self, jdf):
        return DataFrame(jdf, self.spark)

    # ---------------------------------------------------------- lifecycle

    def create_index(self, df, config):
        self._jgraft.createIndex(df._jdf, self._jconfig(config))

    def delete_index(self, name):
        self._jgraft.deleteIndex(name)

    def restore_index(self, name):
        self._jgraft.restoreIndex(name)

    def vacuum_index(self, name):
        self._jgraft.vacuumIndex(name)

    def refresh_index(self, name, mode="full"):
        """mode: "full" | "incremental" | "quick" (metadata-only delta)."""
        self._jgraft.refreshIndex(name, mode)

    def optimize_index(self, name, mode="quick"):
        """mode: "quick" (files under the size threshold, in groups of at
        least two: per bucket, per IVF cell, or the whole index) | "full"."""
        self._jgraft.optimizeIndex(name, mode)

    def cancel(self, name):
        self._jgraft.cancel(name)

    # ------------------------------------------------------ introspection

    def indexes(self):
        return self._df(self._jgraft.indexes())

    def index(self, name):
        return self._df(self._jgraft.index(name))

    def explain(self, df, verbose=False):
        return self._jgraft.explain(df._jdf, verbose)

    def why_not(self, df, index_name=None):
        return self._jgraft.whyNot(df._jdf, index_name)

    def recommend(self, dfs, max_per_table=3):
        """Workload-driven covering-index proposals.

        Replays the given DataFrames without rewrites, collects every
        demand site a bucketed layout could serve, and returns a list of
        dicts: {table, index_name, indexed_columns, included_columns,
        votes, mechanisms, accepted, rejection, edges}. Rejections name
        the corpus-governance hazard (cross-key coverage edge / equal-
        width tie) the proposal would open.
        """
        jseq = self._to_seq([df._jdf for df in dfs])
        jrecs = self._jgraft.recommend(jseq, int(max_per_table))
        out = []
        for i in range(jrecs.size()):
            r = jrecs.apply(i)
            cfg = r.config()
            out.append({
                "table": r.table(),
                "index_name": cfg.indexName(),
                "indexed_columns": list(self._from_seq(cfg.indexedColumns())),
                "included_columns": list(self._from_seq(cfg.includedColumns())),
                "votes": r.votes(),
                "mechanisms": list(self._from_seq(r.mechanisms())),
                "accepted": r.accepted(),
                "rejection": (r.rejection().get()
                              if r.rejection().isDefined() else None),
                "edges": list(self._from_seq(r.edges())),
            })
        return out

    def analyze_index_distribution(self, name, column=None):
        return self._df(self._jgraft.analyzeIndexDistribution(name, column))

    def ann_search(self, index_name, queries, top_k=10, n_probe=4):
        """ANN search against an IVF index; `queries` needs (qid, qv)."""
        return self._df(self._jgraft.annSearch(
            index_name, queries._jdf, top_k, n_probe))

    def ann_recall(self, index_name, queries, top_k=10, n_probe=4):
        """Recall@k of the probed search vs exact (all-cells) search.

        One row per query: (qid, n_exact, n_hit, recall). The standard
        nProbe tuning loop: sweep n_probe until recall clears the target.
        """
        return self._df(self._jgraft.annRecall(
            index_name, queries._jdf, top_k, n_probe))

    def near_duplicates(self, index_name, min_est_jaccard=0.5):
        """Near-duplicate pairs within a MinHash-indexed corpus."""
        return self._df(self._jgraft.nearDuplicates(index_name, min_est_jaccard))

    def dedup_batch(self, index_name, batch, id_col, text_col,
                    min_est_jaccard=0.5):
        """Incremental dedup of a new batch against a MinHash-indexed corpus."""
        return self._df(self._jgraft.dedupBatch(
            index_name, batch._jdf, id_col, text_col, min_est_jaccard))

    def curate_batch(self, index_name, batch, id_col, text_col,
                     min_est_jaccard=0.5):
        """Quality-gate + corpus-dedup + batch-internal-dedup a new batch."""
        return self._df(self._jgraft.curateBatch(
            index_name, batch._jdf, id_col, text_col, min_est_jaccard))


class LakeTable:
    """Format-dispatching Delta/Iceberg table operations, mirroring
    Scala `graft.index.sources.LakeTable`: one code path for reads, time
    travel, history, incremental changes, row deletes, compaction, and
    storage cleanup over either jarless lakehouse format. The matching
    Structured Streaming endpoints need no wrapper at all:
    ``spark.readStream.format("graft-delta").load(path)`` and
    ``df.writeStream.format("graft-iceberg")...`` resolve through
    Spark's DataSource registry from any language.

    >>> t = LakeTable(spark)
    >>> t.format_of(path)      # "delta" | "iceberg"
    >>> t.history(path).show()
    """

    def __init__(self, spark):
        self.spark = spark
        self._jvm = spark._jvm
        self._jt = self._jvm.graft.index.sources.LakeTable
        self._jspark = spark._jsparkSession

    def _df(self, jdf):
        return DataFrame(jdf, self.spark)

    def format_of(self, path):
        return self._jt.formatOf(self._jspark, path)

    def read(self, path):
        return self._df(self._jt.read(self._jspark, path))

    def read_as_of(self, path, as_of):
        """Time travel to a Delta version / Iceberg snapshot id."""
        return self._df(self._jt.readAsOf(self._jspark, path, as_of))

    def history(self, path):
        return self._df(self._jt.history(self._jspark, path))

    def changes(self, path, from_id):
        """Incremental changes after from_id (CDF for Delta, append scan
        for Iceberg), stamped with _change_type/_commit_timestamp."""
        return self._df(self._jt.changes(self._jspark, path, from_id))

    def compute_stats(self, path):
        """Backfill add.stats for Delta files lacking them (footer
        reads only, one dataChange=false commit) so filtered reads
        prune files."""
        return self._jvm.graft.index.sources.DeltaTable.computeStats(
            self._jspark, path)

    def convert_to_delta(self, path, partition_by=None):
        """Upgrade a plain parquet directory to Delta IN PLACE (no data
        moves; footer stats collected). ``partition_by`` names hive
        partition columns carried by the directory layout."""
        jp = self._jvm.PythonUtils.toSeq(list(partition_by or []))
        return self._jvm.graft.index.sources.DeltaTable.convert(
            self._jspark, path, jp)

    def migrate_to_iceberg(self, path):
        """Upgrade a plain (unpartitioned) parquet directory to Iceberg
        IN PLACE — the `migrate` procedure shape."""
        return self._jvm.graft.index.sources.IcebergTable.migrate(
            self._jspark, path)

    def clone(self, source, target, as_of=None):
        """Zero-copy metadata-only clone (Delta SHALLOW CLONE / Iceberg
        snapshot procedure); ``as_of`` clones a historic version or
        snapshot id. Unpartitioned sources only."""
        if as_of is None:
            jas = getattr(self._jvm.scala.Option, "empty")()
        else:
            jas = self._jvm.scala.Option.apply(
                self._jvm.java.lang.Long(int(as_of)))
        return self._jt.clone(self._jspark, source, target, jas)

    def detail(self, path):
        """One-row DESCRIBE DETAIL: format, current id, file/byte
        counts, partition spec, properties, protocol."""
        return self._df(self._jt.detail(self._jspark, path))

    def inspect(self, path, table):
        """Metadata tables: ``files``, ``delete_files``,
        ``partitions`` — driver-side metadata, never a data scan."""
        return self._df(self._jt.inspect(self._jspark, path, table))

    def delete_where(self, path, condition_sql):
        """Row-level merge-on-read delete; condition is a SQL expression."""
        jcond = self._jvm.org.apache.spark.sql.functions.expr(condition_sql)
        return self._jt.deleteWhere(self._jspark, path, jcond)

    def merge(self, path, source_df, keys, delete_condition_sql=None):
        """MERGE (CDC upsert): ``source_df`` rows keyed by ``keys``
        replace matched target rows and insert unmatched ones; rows
        where ``delete_condition_sql`` holds are delete markers. One
        commit (Delta: DV-delete + append, CDF-recorded) / one snapshot
        (Iceberg: equality-delete + append). Returns the new version or
        snapshot id."""
        jkeys = self._jvm.PythonUtils.toSeq(list(keys))
        if delete_condition_sql is None:
            jcond = getattr(self._jvm.scala.Option, "empty")()
        else:
            jcond = self._jvm.scala.Option.apply(
                self._jvm.org.apache.spark.sql.functions.expr(
                    delete_condition_sql))
        return self._jt.merge(self._jspark, path, source_df._jdf,
                              jkeys, jcond)

    def update(self, path, condition_sql, set_exprs):
        """Row-level UPDATE: rows matching ``condition_sql`` get each
        column of ``set_exprs`` (``{column: sql_expression}``, evaluated
        on the old row) applied, in one merge-on-read commit. SET
        expressions must preserve the column's type."""
        fns = self._jvm.org.apache.spark.sql.functions
        jcond = fns.expr(condition_sql)
        jset = self._jvm.PythonUtils.toScalaMap(
            {k: fns.expr(v) for k, v in set_exprs.items()})
        return self._jt.update(self._jspark, path, jcond, jset)

    def compact(self, path):
        """Fold merge-on-read delete state into fresh data files."""
        return self._jt.compact(self._jspark, path)

    def cleanup(self, path, retention_ms=7 * 24 * 3600 * 1000):
        """Delete files no retained version references; returns paths."""
        removed = self._jt.cleanup(self._jspark, path, retention_ms)
        return [removed.apply(i) for i in range(removed.size())]

    def set_properties(self, path, props):
        """``ALTER TABLE ... SET TBLPROPERTIES``: merge ``props`` (a
        dict) into the table configuration; returns the commit id."""
        jmap = self._jvm.PythonUtils.toScalaMap(dict(props))
        return self._jt.setProperties(self._jspark, path, jmap)

    def unset_properties(self, path, keys):
        """``ALTER TABLE ... UNSET TBLPROPERTIES``: drop configuration
        keys; returns the commit id."""
        jset = self._jvm.PythonUtils.toSeq(list(keys)).toSet()
        return self._jt.unsetProperties(self._jspark, path, jset)

    def rewrite_manifests(self, path):
        """Compact an Iceberg table's fast-append manifest list back to
        one data manifest (a row-transparent ``replace`` snapshot);
        returns the new snapshot id. Refused for Delta."""
        return self._jt.rewriteManifests(self._jspark, path)

    def remove_orphans(self, path, older_than_ms=None, dry_run=False):
        """Sweep files NO retained state references (crash leftovers,
        foreign drops), on both formats without touching any file a
        retained version still references — time travel keeps working;
        use ``cleanup``/VACUUM to reclaim historical files. Gated at
        the ``older_than_ms`` epoch cutoff (default: 3 days ago);
        returns the removed (or, with ``dry_run``, the would-be
        removed) paths."""
        import time
        cutoff = (older_than_ms if older_than_ms is not None
                  else int(time.time() * 1000) - 3 * 24 * 3600 * 1000)
        removed = self._jt.removeOrphans(self._jspark, path, cutoff, dry_run)
        return [removed.apply(i) for i in range(removed.size())]

    def optimize(self, path, target_size_bytes=128 << 20, zorder_by=None,
                 where_sql=None):
        """Bin-pack small data files (Delta OPTIMIZE / Iceberg binpack),
        or — with ``zorder_by`` — rewrite clustered by the interleaved
        z-address of those columns so multi-column scans prune files.
        ``where_sql`` scopes the rewrite to matching partitions
        (OPTIMIZE ... WHERE)."""
        jz = self._jvm.PythonUtils.toSeq(list(zorder_by or []))
        if where_sql is None:
            jw = getattr(self._jvm.scala.Option, "empty")()
        else:
            jw = self._jvm.scala.Option.apply(
                self._jvm.org.apache.spark.sql.functions.expr(where_sql))
        return self._jt.optimize(self._jspark, path, target_size_bytes, jz, jw)

    def undo_to(self, path, id):
        """Restore a Delta version / roll back to an Iceberg snapshot."""
        return self._jt.undoTo(self._jspark, path, id)

    def add_column(self, path, name, type_ddl):
        """ALTER TABLE ... ADD COLUMN: append a nullable column
        (metadata-only on both formats; existing files read null).
        ``type_ddl`` is a Spark DDL type string like ``"double"`` or
        ``"decimal(10,2)"``; returns the commit id."""
        jdt = self._jvm.org.apache.spark.sql.types.DataType.fromDDL(type_ddl)
        return self._jt.addColumn(self._jspark, path, name, jdt)

    def add_columns(self, path, col_defs):
        """ALTER TABLE ... ADD COLUMNS: ``col_defs`` is a list of
        ``"name[.nested] TYPE"`` definitions (e.g.
        ``["bonus double", "info.grade string"]``) landing in ONE
        metadata commit — the SQL list form, driven through the
        delegating parser so nested targets and nested types work."""
        stmt = "ALTER TABLE graft_lake.`%s` ADD COLUMNS (%s)" % (
            path, ", ".join(col_defs))
        return self._jspark.sql(stmt).head().getLong(0)

    def rename_column(self, path, old_name, new_name):
        """ALTER TABLE ... RENAME COLUMN (logical rename — Delta column
        mapping / Iceberg field ids; data files untouched). A dotted
        ``old_name`` (``a.b.c``) targets a nested struct field."""
        if "." in old_name:
            stmt = ("ALTER TABLE graft_lake.`%s` RENAME COLUMN %s TO %s"
                    % (path, old_name, new_name))
            return self._jspark.sql(stmt).head().getLong(0)
        return self._jt.renameColumn(self._jspark, path, old_name, new_name)

    def drop_column(self, path, name):
        """ALTER TABLE ... DROP COLUMN (logical removal; partition
        columns and constraint-referenced columns refuse). A dotted
        ``name`` targets a nested struct field."""
        if "." in name:
            stmt = ("ALTER TABLE graft_lake.`%s` DROP COLUMN %s"
                    % (path, name))
            return self._jspark.sql(stmt).head().getLong(0)
        return self._jt.dropColumn(self._jspark, path, name)

    def create_ref(self, path, name, ref_type="branch", at=None):
        """Create an Iceberg BRANCH or TAG, optionally pinned ``at`` a
        snapshot id (default: the current head). Returns the pinned id."""
        # py4j boxes a python int as java.lang.Integer, which cannot
        # unbox into the Scala Option[Long] — route pinned creates
        # through the primitive-long overload instead
        if at is None:
            jat = getattr(self._jvm.scala.Option, "empty")()
            return self._jt.createRef(self._jspark, path, name, ref_type, jat)
        return self._jt.createRefAt(self._jspark, path, name, ref_type,
                                    int(at))

    def create_ref_full(self, path, name, ref_type="branch", at=None,
                        or_replace=False, retain_days=None,
                        keep_snapshots=None, snapshot_age_days=None):
        """The full ref DDL: CREATE [OR REPLACE] BRANCH|TAG with
        RETAIN n DAYS and (branches) WITH SNAPSHOT RETENTION
        k SNAPSHOTS / n DAYS — driven through the SQL statement so the
        grammar and the API stay one code path."""
        stmt = "ALTER TABLE graft_iceberg.`%s` CREATE %s%s %s" % (
            path, "OR REPLACE " if or_replace else "",
            ref_type.upper(), name)
        if at is not None:
            stmt += " AS OF VERSION %d" % at
        if retain_days is not None:
            stmt += " RETAIN %d DAYS" % retain_days
        if keep_snapshots is not None or snapshot_age_days is not None:
            stmt += " WITH SNAPSHOT RETENTION"
            if keep_snapshots is not None:
                stmt += " %d SNAPSHOTS" % keep_snapshots
            if snapshot_age_days is not None:
                stmt += " %d DAYS" % snapshot_age_days
        return self._jspark.sql(stmt).head().getLong(0)

    def drop_ref(self, path, name, ref_type="branch", if_exists=False):
        """Drop an Iceberg branch or tag; refuses a type mismatch and,
        without ``if_exists``, an unknown name."""
        self._jt.dropRef(self._jspark, path, name, ref_type, if_exists)

    def fast_forward(self, path, branch):
        """Publish a write-audit-publish branch: repoint main at the
        branch head (must be a clean descendant); returns the id."""
        return self._jt.fastForward(self._jspark, path, branch)
