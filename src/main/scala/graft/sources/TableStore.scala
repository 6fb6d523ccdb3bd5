package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse storage backend for the ETL (reference dags/utils.py:31-40
  * read and wrote a Postgres warehouse via one SQLAlchemy engine; the
  * parquet warehouse is this engine's native choice). The ETL logic is
  * storage-agnostic — anti-join idempotence, surrogate keys and month
  * pruning are Spark-side — so the backend only needs existence, scan,
  * and two append shapes.
  */
trait TableStore {
  /** The session the store's reads/writes run in — surfaced so an
    * operator handed only a store (e.g. [[graft.ops.MvStore
    * .followTxLog]]) can reach the log/source it consumes.
    */
  def spark: SparkSession
  def exists(name: String): Boolean
  def read(name: String): DataFrame

  /** [[read]] with a KNOWN fixed schema — the store-control-table
    * fast path (meta rows, writer fences, cursors: one row, schema
    * fixed at the call site). A parquet backend skips the plan-time
    * footer-inference Spark job every unpinned directory read pays;
    * relational backends already know their schema and ignore the
    * hint. Columns absent in old files read NULL (the caller defaults
    * them), so the hint never changes what a read returns.
    */
  def read(
      name: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = read(name)

  def overwrite(df: DataFrame, name: String): Unit

  /** Overwrite with physical layout by `partitionCol` where the
    * backend has one (parquet partition dirs), so later
    * [[appendPartitioned]] calls touch only the partitions a batch
    * lands in; relational backends keep it an ordinary column.
    */
  def overwritePartitioned(df: DataFrame, name: String, partitionCol: String): Unit

  /** Append pre-deduplicated dim rows carrying unique `key` values —
    * staged whole-table swap for files; staged table + one-transaction
    * `INSERT..SELECT` publish for JDBC (see [[JdbcStore]]).
    */
  def appendKeyed(df: DataFrame, name: String, key: String): Unit

  /** Fact append, physically partitioned by `partitionCol` where the
    * backend supports layout (parquet); relational backends keep it as
    * an ordinary indexed column.
    */
  def appendPartitioned(df: DataFrame, name: String, partitionCol: String): Unit

  /** Rewrite fragmented partitions of a partitioned table toward
    * `targetFileBytes` files, returning the number of partitions
    * rewritten. File-layout maintenance for backends that HAVE a file
    * layout ([[ParquetStore.compactPartitions]]); relational backends
    * manage physical storage server-side and no-op.
    */
  def compact(
      name: String,
      partitionCol: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = 0

  /** Partition surgery: replace the rows of the partitions holding
    * `sourceValues` with `df`'s rows — which may land back in those
    * partitions AND in partitions that do not exist yet (splitting one
    * hot partition into several); every other partition is untouched.
    * Aborts without touching the table if `df` would clobber a live
    * partition not listed in `sourceValues`. Run OUTSIDE the
    * append/query window, like compaction.
    */
  def rewritePartitioned(
      df: DataFrame,
      name: String,
      partitionCol: String,
      sourceValues: Seq[String]): Unit

  /** Single-token SLOTS — writer fences, pending-intent windows,
    * in-flight markers (the protocol lives in [[graft.ops.StoreTxn]]):
    * a token string that is present or absent, read at the top of a
    * store op, whose loss semantics are "treat as absent". Every
    * backend keeps exactly ONE on-disk format for a slot — the parquet
    * store a `_HELD` file (zero Spark jobs per set/probe/clear), JDBC a
    * 1-row table — so these have no default: a delegating store must
    * forward all three, or its slots would land in a second format the
    * wrapped backend never reads. Durable multi-row state (cursors,
    * ledgers) stays on the table surface.
    */
  def markerHolder(table: String): Option[String]
  def markerSet(table: String, token: String): Unit
  def markerClear(table: String): Unit

  /** Claim the slot for `token` if it is free: None once claimed, else
    * the current holder. The default probes then sets — two writers
    * racing a free slot within one write latency can both pass, which
    * is the JDBC contract; backends with an atomic create-if-absent
    * override it ([[ParquetStore]]).
    */
  def markerClaim(table: String, token: String): Option[String] =
    markerHolder(table) match {
      case None => markerSet(table, token); None
      case held => held
    }
}

/** Parquet-directory warehouse: one directory per table under `dir`.
  * Dim appends go through the staged whole-table swap
  * ([[ParquetUpsert.mergeByKey]]) so readers never observe a partial
  * append; the fact table uses a partitioned plain append (whole-table
  * rewrites don't survive fact scale — partition-level staging is the
  * upgrade path there).
  */
final class ParquetStore(val spark: SparkSession, dir: String) extends TableStore {
  import org.apache.hadoop.fs.Path
  private val fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def path(name: String) = s"$dir/$name"

  /** Inferred-schema memo per table: every unhinted directory read
    * pays a plan-time footer-inference Spark job, and one store op
    * reads the same tables several times between writes (novelty
    * probe + exact check, stamp probe + merge). The memo is
    * INSTANCE-scoped and invalidated by every mutation of this handle
    * — all writes route through the methods below — so within the
    * single-writer discipline a stale entry cannot survive a write.
    * Another process (or another handle) writing the same directory
    * is outside the memo, same single-writer contract as the
    * TxLog-side memos. Schemas only; never results.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()
  private def invalidate(name: String): Unit = schemaMemo.remove(name)

  def exists(name: String): Boolean = fs.exists(new Path(path(name)))
  def read(name: String): DataFrame = {
    val got = schemaMemo.get(name)
    if (got != null) return spark.read.schema(got).parquet(path(name))
    val df = spark.read.parquet(path(name))
    schemaMemo.put(name, df.schema)
    df
  }
  override def read(
      name: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path(name))
  def overwrite(df: DataFrame, name: String): Unit = {
    invalidate(name)
    df.write.mode("overwrite").parquet(path(name))
  }
  def overwritePartitioned(df: DataFrame, name: String, partitionCol: String): Unit = {
    invalidate(name)
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path(name))
  }
  def appendKeyed(df: DataFrame, name: String, key: String): Unit = {
    invalidate(name)
    ParquetUpsert.mergeByKey(spark, path(name), df, Seq(key))
  }

  /** Slots as a `_HELD` FILE under the slot's dir — zero Spark jobs
    * on the set/probe/clear path. Present means active-or-crashed
    * holder; a process death leaves it held, and a clear (or, for
    * pending windows, the resume rule) retires it. [[markerClaim]] is
    * atomic: the token lands in a temp file that [[graft.ops.TxLog
    * .atomicClaim]] links into place with no overwrite (link(2) on
    * `file:`, a no-overwrite rename elsewhere), so exactly one of any
    * number of racing writers takes a free fence.
    */
  private def markerFile(table: String) = new Path(path(table), "_HELD")
  def markerHolder(table: String): Option[String] =
    try {
      val in = fs.open(markerFile(table))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  def markerSet(table: String, token: String): Unit =
    writeMarker(markerFile(table), token)
  def markerClear(table: String): Unit =
    fs.delete(markerFile(table), false)
  override def markerClaim(table: String, token: String): Option[String] = {
    val tmp = new Path(path(table), s".claim-${java.util.UUID.randomUUID()}.tmp")
    writeMarker(tmp, token)
    if (graft.ops.TxLog.atomicClaim(fs, tmp, markerFile(table))) None
    // the holder may clear between the lost claim and this read
    else markerHolder(table).orElse(markerClaim(table, token))
  }
  private def writeMarker(p: Path, token: String): Unit = {
    val out = fs.create(p, true)
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  override def compact(
      name: String,
      partitionCol: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    invalidate(name)
    compactPartitions(name, partitionCol, targetFileBytes)
  }

  /** Fact append via a partition-level stage: the batch writes
    * (partitioned) to a `__fact_stage` dir first, then its data files
    * rename into the matching table partition dirs under unique names.
    * A crash during the WRITE (the long phase — the whole Spark job,
    * including its commit) leaves the table completely untouched; the
    * exposed window shrinks to the same-filesystem rename loop, and a
    * crash there is recoverable: moved rows are visible and excluded by
    * the caller's idempotence anti-join on re-run, unmoved rows are
    * recomputed after the stale stage is clobbered. (Whole-table swap —
    * the dims' appendKeyed path — would make even that window
    * all-or-nothing, but rewriting a fact table per append does not
    * survive scale.)
    */
  def appendPartitioned(df: DataFrame, name: String, partitionCol: String): Unit = {
    invalidate(name)
    val stage = new Path(path(name) + "__fact_stage")
    fs.delete(stage, true)
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(stage.toString)
    val target = new Path(path(name))
    fs.mkdirs(target)
    val batchId = java.util.UUID.randomUUID().toString.take(8)
    fs.listStatus(stage).foreach { part =>
      if (part.isDirectory && part.getPath.getName.startsWith(s"$partitionCol=")) {
        val destDir = new Path(target, part.getPath.getName)
        fs.mkdirs(destDir)
        fs.listStatus(part.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .foreach { f =>
            val dest = new Path(destDir, s"b$batchId-${f.getPath.getName}")
            if (!fs.rename(f.getPath, dest))
              throw new java.io.IOException(s"cannot publish ${f.getPath} -> $dest")
          }
      }
    }
    fs.delete(stage, true)
  }

  /** [[TableStore.rewritePartitioned]] on partition dirs. Protocol:
    *   1. stage `df` (partitionBy) under `<table>__rewrite_stage`;
    *   2. validate BEFORE any destructive step: every staged dir is
    *      either a source dir or does not exist live (else abort with
    *      the table untouched — `df` would clobber rows it never read);
    *   3. only AFTER validation passes, write the manifest file naming
    *      the source partition dirs — the manifest is the publish
    *      token, so a stage that never validated can never be
    *      published, even by the recovery sweep (a crash between
    *      manifest write and abort would otherwise leave a
    *      "complete"-looking stage that recovery publishes blindly);
    *   4. publish: per staged dir, delete the live dir and rename the
    *      staged one in; per manifest source with NO staged dir,
    *      delete the live dir (all its rows moved elsewhere); drop the
    *      stage last.
    * The staged tree holds the COMPLETE new contents of every affected
    * partition, so a crash mid-publish is finished by the recovery
    * sweep on the next rewrite call: a stage with Spark's _SUCCESS
    * marker and a manifest resumes its publish (deletes and renames
    * are idempotent); anything less is a crashed or unvalidated stage
    * write and is discarded.
    */
  def rewritePartitioned(
      df: DataFrame,
      name: String,
      partitionCol: String,
      sourceValues: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    invalidate(name)
    recoverRewrite(name, partitionCol)
    val target = new Path(path(name))
    val stageRoot = new Path(path(name) + "__rewrite_stage")
    fs.delete(stageRoot, true)
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(stageRoot.toString)
    val srcDirs = sourceValues
      .map(v => partitionCol + "=" + ExternalCatalogUtils.escapePathName(v))
    val stagedDirs = fs.listStatus(stageRoot)
      .filter(p => p.isDirectory && p.getPath.getName.startsWith(s"$partitionCol="))
      .map(_.getPath.getName).toSet
    val clobbered = (stagedDirs -- srcDirs)
      .filter(d => fs.exists(new Path(target, d)))
    if (clobbered.nonEmpty) {
      fs.delete(stageRoot, true)
      throw new IllegalStateException(
        s"rewrite would clobber live partitions not listed as sources: " +
          s"${clobbered.take(5).mkString(", ")} — table untouched")
    }
    val out = fs.create(new Path(stageRoot, RewriteManifest), true)
    try out.write(srcDirs.mkString("\n").getBytes("UTF-8")) finally out.close()
    publishRewrite(target, stageRoot, partitionCol)
  }

  private val RewriteManifest = "_GRAFT_REWRITE_SOURCES"

  private def publishRewrite(target: Path, stageRoot: Path, partitionCol: String): Unit = {
    val manifest = {
      val in = fs.open(new Path(stageRoot, RewriteManifest))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSeq
      finally in.close()
    }
    fs.mkdirs(target)
    val staged = fs.listStatus(stageRoot)
      .filter(p => p.isDirectory && p.getPath.getName.startsWith(s"$partitionCol="))
    staged.foreach { part =>
      val live = new Path(target, part.getPath.getName)
      fs.delete(live, true)
      if (!fs.rename(part.getPath, live))
        throw new java.io.IOException(s"cannot publish ${part.getPath} -> $live")
    }
    val stagedNames = staged.map(_.getPath.getName).toSet
    manifest.filterNot(stagedNames).foreach { d =>
      fs.delete(new Path(target, d), true)
    }
    fs.delete(stageRoot, true)
  }

  /** Finish (or discard) a crashed [[rewritePartitioned]]: a staged
    * tree with both Spark's _SUCCESS marker and the manifest is
    * complete and its publish resumes; anything else died mid-write
    * and is dropped.
    */
  private def recoverRewrite(name: String, partitionCol: String): Unit = {
    val stageRoot = new Path(path(name) + "__rewrite_stage")
    if (fs.exists(stageRoot)) {
      if (fs.exists(new Path(stageRoot, "_SUCCESS")) &&
          fs.exists(new Path(stageRoot, RewriteManifest)))
        publishRewrite(new Path(path(name)), stageRoot, partitionCol)
      else fs.delete(stageRoot, true)
    }
  }

  /** Compact a fact table's per-batch small files: each
    * [[appendPartitioned]] call leaves one file set per batch per
    * partition, so N daily appends grow to N files per partition
    * forever — at 100× scale, unbounded read amplification (open/seek
    * cost per file, tiny row groups, starved vectorized reads). Every
    * partition whose file count exceeds what `targetFileBytes` calls
    * for is rewritten into ceil(bytes/target) files.
    *
    * ONE rewrite job regardless of partition count: the target
    * partitions are selected by file listing (driver-side for small
    * tables, a distributed listing job past `distributedPlanAbove`
    * partition dirs — so neither the listing round-trips nor the plan
    * rows are O(partitions) on the driver at warehouse scale), read
    * together with partition pruning, salted so each partition lands
    * in its own ceil(bytes/target) write tasks, and written
    * `partitionBy` into a single stage tree. Publishing is per-partition
    * dir renames, stage/backup OUTSIDE the table dir so partition
    * discovery never sees them:
    *   1. write all rewritten partitions under `<table>__compact_stage`;
    *   2. per partition: rename `<table>/<part>` →
    *      `<table>__compact_old/<part>`, then stage → `<table>/<part>`;
    *   3. delete the backup.
    * A crash before (2) leaves the table untouched; inside (2) the
    * backup holds any partition whose swap was interrupted and the
    * next call's recovery sweep restores it; contents are preserved as
    * a multiset — only file boundaries change.
    *
    * Run OUTSIDE the append window (compaction and append both rename
    * into partition dirs). Returns the number of partitions rewritten.
    */
  def compactPartitions(
      name: String,
      partitionCol: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      distributedPlanAbove: Int = 64): Int = {
    invalidate(name)
    val target = new Path(path(name))
    val stageRoot = new Path(path(name) + "__compact_stage")
    val oldRoot = new Path(path(name) + "__compact_old")

    // recovery sweep: a partition missing from the table but present in
    // the backup means a crash landed mid-swap
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).foreach { p =>
        val live = new Path(target, p.getPath.getName)
        if (!fs.exists(live) && !fs.rename(p.getPath, live))
          throw new java.io.IOException(s"cannot restore ${p.getPath} -> $live")
      }
      fs.delete(oldRoot, true)
    }
    fs.delete(stageRoot, true)
    if (!fs.exists(target)) return 0

    // plan: which partitions need rewriting, into how many files. Dir
    // names are Hive-ESCAPED forms of the value ('%3A' for ':',
    // __HIVE_DEFAULT_PARTITION__ for NULL) — unescape for the row
    // filter, keep the dir name for matching staged output. The
    // partition-dir listing is ONE filesystem call; the per-partition
    // FILE listings (one round-trip each) run on the driver only for
    // small tables — past `distributedPlanAbove` dirs they fan out as a
    // Spark job (executors hold the hadoop conf via the broadcast-able
    // SerializableConfiguration), and only partitions that NEED
    // compaction come back, so driver memory is O(rewrites), not
    // O(partitions).
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val partDirNames = fs.listStatus(target).toSeq
      .filter(p => p.isDirectory && p.getPath.getName.startsWith(s"$partitionCol="))
      .map(_.getPath.getName)
    def planOf(dirName: String, files: Seq[Long]): Option[(String, Int)] = {
      val bytes = files.sum
      val wantFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      if (files.length > wantFiles) Some((dirName, wantFiles)) else None
    }
    def dataFiles(dirFs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Long] =
      dirFs.listStatus(dir).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(_.getLen)
    val needed: Seq[(String, Int)] =
      if (partDirNames.length <= distributedPlanAbove)
        partDirNames.flatMap(d => planOf(d, dataFiles(fs, new Path(target, d))))
      else {
        val sc = spark.sparkContext
        // ship the session hadoop conf (credentials, fs implementations)
        // as PLAIN entries: a Configuration is not serializable, and a
        // writeObject/readObject wrapper silently breaks under
        // spark.serializer=KryoSerializer, which ignores Java
        // serialization hooks — plain tuples survive any serializer
        val confEntries: Array[(String, String)] = {
          val it = sc.hadoopConfiguration.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
          buf.toArray
        }
        val targetStr = target.toString
        sc.parallelize(partDirNames, math.min(partDirNames.length, 256))
          .mapPartitions { dirs =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, v) => conf.set(k, v) }
            val root = new Path(targetStr)
            val taskFs = root.getFileSystem(conf)
            dirs.flatMap(d => planOf(d, dataFiles(taskFs, new Path(root, d))))
          }
          .collect().toSeq
      }
    val plans = needed.map { case (dirName, wantFiles) =>
      val value = ExternalCatalogUtils.unescapePathName(
        dirName.substring(partitionCol.length + 1))
      (dirName, value, wantFiles)
    }
    if (plans.isEmpty) return 0

    import org.apache.spark.sql.functions._
    val wants = {
      import spark.implicits._
      spark.createDataset(plans.map(p => (p._2, p._3))).toDF("__pv", "__want")
    }
    val table = spark.read.parquet(target.toString)
    val dataCols = table.columns.filterNot(_ == partitionCol)
    // NULL partitions surface as the Hive default-partition sentinel in
    // dir names; coalesce makes the row-side key match it
    val keyExpr = coalesce(col(partitionCol).cast("string"),
      lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
    // partition pruning reaches the scan (isin on the partition column),
    // the salt splits each partition across exactly `want` write tasks
    val staged = table
      .filter(keyExpr.isin(plans.map(_._2): _*))
      .join(broadcast(wants), keyExpr === col("__pv"))
      .withColumn("__salt",
        pmod(xxhash64(dataCols.map(col): _*), col("__want").cast("long")).cast("int"))
      .repartition(col(partitionCol), col("__salt"))
      .drop("__pv", "__want", "__salt")
    staged.write.mode("overwrite").partitionBy(partitionCol).parquet(stageRoot.toString)

    // validate BEFORE touching the table: every planned partition must
    // have staged output (dir names compare in escaped form), so a
    // planning/filter mismatch aborts with the table untouched
    val stagedDirs = fs.listStatus(stageRoot)
      .filter(p => p.isDirectory && p.getPath.getName.startsWith(s"$partitionCol="))
      .map(_.getPath.getName).toSet
    val planned = plans.map(_._1).toSet
    if (stagedDirs != planned) {
      fs.delete(stageRoot, true)
      throw new IllegalStateException(
        s"compaction staged ${stagedDirs.size} of ${planned.size} planned partitions " +
          s"(missing: ${(planned -- stagedDirs).take(5).mkString(", ")}) — table untouched")
    }

    // publish: per-partition dir swap through the backup
    fs.mkdirs(oldRoot)
    var compacted = 0
    fs.listStatus(stageRoot).foreach { part =>
      if (part.isDirectory && part.getPath.getName.startsWith(s"$partitionCol=")) {
        val live = new Path(target, part.getPath.getName)
        val backup = new Path(oldRoot, part.getPath.getName)
        if (fs.exists(live) && !fs.rename(live, backup))
          throw new java.io.IOException(s"cannot back up $live -> $backup")
        if (!fs.rename(part.getPath, live))
          throw new java.io.IOException(s"cannot publish ${part.getPath} -> $live")
        compacted += 1
      }
    }
    fs.delete(stageRoot, true)
    fs.delete(oldRoot, true)
    compacted
  }
}

/** JDBC warehouse — the literal shape of the reference's Postgres
  * engine (dags/utils.py:31-40: pd.read_sql / to_sql over one
  * connection URL). Reads go through Spark's JDBC source, so Catalyst
  * pushes filters down as SQL WHERE clauses (the month-pruned fact
  * anti-join becomes an indexed range scan server-side); writes use
  * the batched JDBC writer.
  *
  * Atomicity: Spark's JDBC writer commits PER PARTITION (one
  * transaction per write task), not per job — so appends never target
  * the live table directly. Both append shapes go through
  * [[stagedAppend]]: the batch lands in a `<name>__stage` table (where
  * partial visibility is harmless), then publishes into the target
  * with ONE server-side `INSERT INTO .. SELECT` transaction. A crash
  * during the Spark write leaves the target untouched (only a stale
  * stage, clobbered on retry); a crash during the publish rolls the
  * single transaction back — the target is all-or-nothing either way.
  * The idempotence anti-join upstream remains the cross-RUN guard.
  * Single writer per table (the stage name is fixed), matching the
  * reference's serial scheduler.
  *
  * Tested against embedded Derby (FormatsSpec, including a mid-write
  * crash simulation); any server a Spark JDBC dialect exists for
  * (Postgres included) takes the same URL.
  */
final class JdbcStore(
    val spark: SparkSession,
    url: String,
    props: Properties = new Properties) extends TableStore {

  def exists(name: String): Boolean = {
    val conn = DriverManager.getConnection(url, props)
    try storedName(conn, name).isDefined finally conn.close()
  }

  /** The table's name as the database stores it (metadata lookup,
    * case-insensitive) — Spark's JDBC writer interpolates the
    * `dbtable` option UNQUOTED, so the server case-folds it on CREATE
    * (Derby up, Postgres down) and our hand-built SQL must target that
    * stored spelling, not the caller's.
    *
    * Cost shape: three EXACT metadata probes (as-is / upper / lower —
    * every standard folding) with pattern wildcards escaped, falling
    * back to the full-catalog scan only for exotic foldings — a
    * warehouse with 10⁴ tables pays O(1) metadata rows per call, not
    * an enumeration.
    */
  private def storedName(conn: java.sql.Connection, name: String): Option[String] = {
    val md = conn.getMetaData
    val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
    def exactPattern(s: String): String = {
      val escaped = esc.fold(s)(e => s.replace(e, e + e))
      esc.fold(escaped)(e =>
        escaped.replace("_", e + "_").replace("%", e + "%"))
    }
    def probe(candidate: String): Option[String] = {
      val rs = md.getTables(null, null, exactPattern(candidate), Array("TABLE"))
      try if (rs.next()) Some(rs.getString("TABLE_NAME")) else None
      finally rs.close()
    }
    Seq(name, name.toUpperCase, name.toLowerCase).distinct
      .iterator.map(probe).collectFirst { case Some(t) => t }
      .orElse {
        val rs = md.getTables(null, null, null, Array("TABLE"))
        try {
          var found: Option[String] = None
          while (found.isEmpty && rs.next()) {
            val t = rs.getString("TABLE_NAME")
            if (t.equalsIgnoreCase(name)) found = Some(t)
          }
          found
        } finally rs.close()
      }
  }

  /** `name` as a safely quoted SQL identifier for this connection:
    * resolved to its stored spelling (so a Spark-created, case-folded
    * table still matches), wrapped in the driver's quote string with
    * embedded quotes doubled — reserved words and mixed-case names
    * stop breaking the interpolated statements.
    */
  private def quotedTable(conn: java.sql.Connection, name: String): String = {
    val q = conn.getMetaData.getIdentifierQuoteString match {
      case null | " " | "" => "\""
      case s => s
    }
    val n = storedName(conn, name).getOrElse(name)
    q + n.replace(q, q + q) + q
  }
  /** [[quotedTable]] on a fresh connection — for the Spark read/write
    * paths, whose `dbtable` option is interpolated raw into SQL: passing
    * the resolved, quoted spelling makes a mixed-case or externally
    * quoted table reachable (unquoted, the server would case-fold the
    * name and miss it).
    */
  private def quoted(name: String): String = {
    val conn = DriverManager.getConnection(url, props)
    try quotedTable(conn, name) finally conn.close()
  }

  def read(name: String): DataFrame = spark.read.jdbc(url, quoted(name), props)
  def overwrite(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").jdbc(url, quoted(name), props)
  def overwritePartitioned(df: DataFrame, name: String, partitionCol: String): Unit =
    overwrite(df, name)
  def appendKeyed(df: DataFrame, name: String, key: String): Unit =
    stagedAppend(df, name, Some(key))
  def appendPartitioned(df: DataFrame, name: String, partitionCol: String): Unit =
    stagedAppend(df, name, None)

  /** Slots as 1-row `token` tables through the ordinary read/overwrite
    * surface. The claim keeps the trait's probe-then-set default.
    */
  def markerHolder(table: String): Option[String] =
    if (!exists(table)) None
    else read(table).collect()
      .headOption.flatMap(r => Option(r.getString(0)))
  def markerSet(table: String, token: String): Unit =
    overwrite(markerDf(Seq(token)), table)
  def markerClear(table: String): Unit =
    overwrite(markerDf(Nil), table)
  private def markerDf(tokens: Seq[String]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(tokens.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))

  /** Partition surgery, relationally: stage the replacement rows, then
    * in ONE transaction validate, DELETE the source partitions' rows
    * and INSERT the stage — all-or-nothing. The validation enforces the
    * trait contract the directory backend gets structurally: stage rows
    * whose partition value is live in the target but NOT listed in
    * `sourceValues` would silently duplicate alongside the existing
    * rows (only sourceValues rows are DELETEd), so their presence rolls
    * back with the same IllegalStateException the Parquet backend
    * throws. Values compare as strings (CAST) so the call is
    * type-agnostic like the dir-name form, and NULL partition values
    * compare as the Hive default-partition sentinel — the same
    * spelling the directory backend's partition dirs use — so a NULL
    * partition is addressable (and clobber-protected) on both
    * backends alike.
    */
  def rewritePartitioned(
      df: DataFrame,
      name: String,
      partitionCol: String,
      sourceValues: Seq[String]): Unit = {
    val stage = name + "__stage"
    df.write.mode("overwrite").jdbc(url, quoted(stage), props)
    val cols = df.columns.map(c => "\"" + c + "\"").mkString(", ")
    val in = sourceValues.map(v => "'" + v.replace("'", "''") + "'").mkString(", ")
    val sentinel = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME
    def keyOf(qualifier: String) =
      s"""COALESCE(CAST($qualifier."$partitionCol" AS VARCHAR(128)), '$sentinel')"""
    // empty sourceValues (pure partition ADD — e.g. a sidecar batch
    // landing only in fresh cells) must not emit `IN ()`, a syntax
    // error: every staged partition is then clobber-checked and the
    // DELETE is skipped outright
    val notSourced =
      if (sourceValues.isEmpty) "" else s"${keyOf("s")} NOT IN ($in) AND "
    val conn = DriverManager.getConnection(url, props)
    try {
      val qName = quotedTable(conn, name)
      val qStage = quotedTable(conn, stage)
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"""SELECT DISTINCT ${keyOf("s")} FROM $qStage s
              WHERE $notSourced EXISTS (SELECT 1 FROM $qName t
                  WHERE ${keyOf("t")} = ${keyOf("s")})""")
        val clobbered = scala.collection.mutable.ArrayBuffer.empty[String]
        while (clobbered.size < 5 && rs.next()) clobbered += rs.getString(1)
        if (clobbered.nonEmpty)
          throw new IllegalStateException(
            s"rewrite would clobber live partitions not listed as sources: " +
              s"${clobbered.mkString(", ")} — table untouched")
        if (sourceValues.nonEmpty)
          st.executeUpdate(
            s"""DELETE FROM $qName t WHERE ${keyOf("t")} IN ($in)""")
        st.executeUpdate(s"INSERT INTO $qName ($cols) SELECT $cols FROM $qStage")
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Throwable => }
          throw e
      }
      conn.setAutoCommit(true)
      st.execute(s"DROP TABLE $qStage")
    } finally conn.close()
  }

  /** All-or-nothing append via a staging table. Steps:
    *  1. Spark-write the batch to `<name>__stage` (mode overwrite, so a
    *     stale stage from a crashed run is clobbered, not re-published);
    *  2. if the target is missing, create it EMPTY from the frame's
    *     schema (portable across dialects, unlike RENAME TABLE);
    *  3. publish server-side in ONE transaction — for a keyed append,
    *     `DELETE` the target rows whose key the stage carries, then
    *     `INSERT .. SELECT` the stage: the same updates-win merge
    *     [[ParquetUpsert.mergeByKey]] gives the file backend, so
    *     re-sending a batch is a no-op at the row level and the
    *     idempotent-sink contracts built on appendKeyed (ETL dims,
    *     ANN index ingest) hold on JDBC too. No data moves through
    *     Spark, and readers see none or all of the batch;
    *  4. drop the stage (cleanup only — a leftover stage is inert).
    * Columns are matched BY NAME (quoted — Spark's JDBC writer creates
    * case-sensitive identifiers), so target column order need not match
    * the frame's.
    */
  private def stagedAppend(df: DataFrame, name: String, key: Option[String]): Unit = {
    val stage = name + "__stage"
    df.write.mode("overwrite").jdbc(url, quoted(stage), props)
    if (!exists(name))
      df.limit(0).write.jdbc(url, quoted(name), props)
    val cols = df.columns.map(c => "\"" + c + "\"").mkString(", ")
    val conn = DriverManager.getConnection(url, props)
    try {
      val qName = quotedTable(conn, name)
      val qStage = quotedTable(conn, stage)
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        key.foreach { k =>
          st.executeUpdate(
            s"""DELETE FROM $qName WHERE "$k" IN (SELECT "$k" FROM $qStage)""")
        }
        st.executeUpdate(s"INSERT INTO $qName ($cols) SELECT $cols FROM $qStage")
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Throwable => }
          throw e
      }
      conn.setAutoCommit(true)
      st.execute(s"DROP TABLE $qStage")
    } finally conn.close()
  }
}
