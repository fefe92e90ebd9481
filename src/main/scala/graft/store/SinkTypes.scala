package graft.store

import graft.config.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Declared-type fidelity at the lakehouse boundary (SURVEY.md §1.4).
  *
  * The reference's DDL declares per-column DECIMAL(p,s)
  * (config.py:9-26, fred_config.py:10-17, nyu_config.py:6-15) that its
  * actual store erases to doubles at rest. This engine keeps the erased
  * DOUBLE as the in-engine numeric surface (all merge tolerance math,
  * panels, and the SQL views stay double — oracle-consistent), but writes
  * parquet with the DECLARED DecimalType so an external lakehouse consumer
  * re-deriving the DDL sees the intended logical types.
  *
  * The declared scale is the table's VALUE CONTRACT, exactly as the SQL
  * column would enforce it: incoming values are snapped to the declared
  * scale BEFORE the merge compares them (declaredRound), so a raw value
  * finer than the scale stores rounded ONCE and re-ingests as 'unchanged'
  * forever — sink rounding can never churn the 0.001-tolerance merge.
  * A value that OVERFLOWS the declared precision throws under ANSI mode
  * (the dataset's run fails loudly; `Runner.runFetched` records status
  * 'error' and the run continues) — never a silent NULL.
  *
  * Legacy stores: a table whose existing files are plain double KEEPS
  * that layout (writesDeclared) — the partition-scoped write path
  * replaces only touched partitions, and a table mixing double and
  * decimal physical types across partitions is unreadable. Declared
  * types apply to tables created under the policy; an old store opts in
  * per table via the one-shot whole-table `migrateDeclared` rewrite.
  */
object SinkTypes {

  /** The loud-overflow contract rides on ANSI mode (a non-ANSI decimal
    * cast NULLs on overflow — exactly the silent corruption this policy
    * exists to prevent), and ANSI is only DEFAULT-true on Spark 4.x.
    * LocalSession pins it; a library consumer embedding the engine in
    * their own session might not — so every declared-decimal cast site
    * asserts it rather than trusting ambient config. */
  private def requireAnsi(df: DataFrame): Unit =
    require(df.sparkSession.conf.get("spark.sql.ansi.enabled", "true").toBoolean,
      "SinkTypes: declared-decimal writes require spark.sql.ansi.enabled=true " +
        "(without ANSI, declared-precision overflow becomes a silent NULL " +
        "at rest instead of a loud failure)")

  /** Engine frame -> declared at-rest schema, applied at table writes. */
  def sinkCast(df: DataFrame, tableName: String): DataFrame = {
    val dec = Registry.declaredDecimals(tableName)
    if (dec.nonEmpty) requireAnsi(df)
    dec.foldLeft(df) {
      case (d, (c, (p, s))) if d.columns.contains(c) =>
        d.withColumn(c, col(c).cast(DecimalType(p, s)))
      case (d, _) => d
    }
  }

  /** Snap engine values to the declared scale (decimal round-trip) before
    * the merge classifies them — the stored row and a re-ingested raw
    * value then compare exactly equal. No-op for undeclared columns. */
  def declaredRound(df: DataFrame, tableName: String): DataFrame = {
    val dec = Registry.declaredDecimals(tableName)
    if (dec.nonEmpty) requireAnsi(df)
    dec.foldLeft(df) {
      case (d, (c, (p, s))) if d.columns.contains(c) =>
        d.withColumn(c, col(c).cast(DecimalType(p, s)).cast(DoubleType))
      case (d, _) => d
    }
  }

  /** Whether writes to this table should carry the declared decimals:
    * yes for a table with declarations that is NEW or already written
    * under the policy; no for a legacy all-double table (its layout is
    * preserved so partition-scoped writes never mix physical types). */
  def writesDeclared(existing: DataFrame, tableName: String,
                     isNew: Boolean): Boolean = {
    val dec = Registry.declaredDecimals(tableName)
    dec.nonEmpty && (isNew || dec.keys.forall(c =>
      existing.schema.fields.find(_.name == c)
        .forall(_.dataType.isInstanceOf[DecimalType])))
  }

  /** One-shot adoption of the declared-decimal layout by a LEGACY all-double
    * table (the layout `writesDeclared` otherwise pins forever, correctly —
    * an incremental partition-scoped write must never mix double and decimal
    * physical types across one table's partitions). This is the whole-table
    * form that CAN change the layout safely: read everything, snap every
    * declared column to its DECIMAL(p,s) (the same cast `declaredRound`
    * applies to incoming values, so post-migration re-ingests of the same
    * raw data classify as 'unchanged'), and commit through the atomic
    * whole-table swap — `partCols` preserves a partitioned layout through
    * it, and a crash mid-rewrite leaves the legacy table intact rather than
    * a half-migrated mix. Overflow follows the policy's loud-failure
    * contract (ANSI asserted inside sinkCast). Returns true iff a rewrite
    * ran: false for tables with no declarations, missing tables, and tables
    * already under the policy — so a deployment can run it idempotently
    * across the whole inventory.
    *
    * Partition-layout safety: the on-disk layout is probed first. A
    * partitioned table migrated with empty `partCols` inherits its existing
    * layout (it is never silently flattened — a later partition-scoped
    * write onto a flattened table would build a mixed flat+partitioned
    * tree that Spark's partition discovery rejects, leaving the table
    * unreadable); passing `partCols` that DISAGREE with the existing
    * layout fails loudly for the same reason. The table must be quiesced
    * during migration — no runner or stream writing it — as the
    * read→rewrite runs outside the commit lock (the store's documented
    * single-writer boundary): a write landing between the lazy read and
    * the swap would be discarded by the whole-table swap. */
  def migrateDeclared(store: TableStore, tableName: String,
                      partCols: Seq[String] = Nil, maxFiles: Int = 0): Boolean = {
    if (Registry.declaredDecimals(tableName).isEmpty || !store.exists(tableName))
      return false
    val layout = store.partitionColumns(tableName)
    val effectiveParts =
      if (partCols.isEmpty) layout
      else {
        require(layout.isEmpty || layout == partCols,
          s"migrateDeclared('$tableName'): requested partition columns " +
            s"${partCols.mkString("[", ",", "]")} conflict with the " +
            s"existing on-disk layout ${layout.mkString("[", ",", "]")}; " +
            "rewriting would create a mixed directory tree Spark cannot read")
        partCols
      }
    val current = store.read(tableName)
    if (writesDeclared(current, tableName, isNew = false)) return false
    store.overwrite(tableName, sinkCast(current, tableName), maxFiles, effectiveParts)
    true
  }

  /** The merge-time policy bundle, applied by the one merge every ingest
    * path runs (`Runner`'s private merge — batch, parallel, partitioned and
    * streaming alike): decide whether this table carries declared types,
    * normalize the existing side to the engine's double surface, and snap
    * the incoming batch to the declared scale when the contract applies. */
  final case class MergePolicy(tableName: String, declared: Boolean,
                               existing: DataFrame, incoming: DataFrame) {
    /** Cast a merged frame for THIS policy's table's at-rest layout —
      * the table is pinned at mergePolicy() time so a call site can't
      * decide `declared` for one table and cast for another. */
    def writeCast(df: DataFrame): DataFrame =
      if (declared) sinkCast(df, tableName) else df
  }

  def mergePolicy(existingRaw: DataFrame, tableName: String, isNew: Boolean,
                  canonical: DataFrame): MergePolicy = {
    val declared = writesDeclared(existingRaw, tableName, isNew)
    MergePolicy(tableName, declared, engineCast(existingRaw, tableName),
      if (declared) declaredRound(canonical, tableName) else canonical)
  }

  /** At-rest frame -> engine numeric surface (doubles), applied at reads.
    * Only columns that are actually DecimalType are touched, so frames
    * from stores written before this policy read back unchanged. */
  def engineCast(df: DataFrame, tableName: String): DataFrame =
    Registry.declaredDecimals(tableName).foldLeft(df) {
      case (d, (c, _)) if d.schema.fields.exists(f =>
          f.name == c && f.dataType.isInstanceOf[DecimalType]) =>
        d.withColumn(c, col(c).cast(DoubleType))
      case (d, _) => d
    }
}
