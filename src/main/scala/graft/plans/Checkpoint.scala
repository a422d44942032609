package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Properties
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Wave-atomic checkpointing (SURVEY §4.3-6; reference state files S6:
 * mq.status / task.status / budget / bloom bits → here one committed
 * manifest per wave over immutable parquet).
 *
 * Commit protocol: all of a wave's outputs are written, then a small
 * manifest file is atomically moved into
 * `<dir>/manifest/wave-<k>.properties`. A wave without its manifest is
 * invisible — resume reads the max committed wave and continues without
 * re-fetching or reordering (the continuation depends only on committed
 * state; kill-resume equivalence is asserted by CrawlJobSpec).
 *
 * Two storage layouts, one commit rule (on-disk layout
 * [[Checkpoint.Layout]], recorded as the `layout` key of every manifest):
 *  - small per-wave outputs are plain parquet under `<dir>/wave=<k>/<name>`:
 *    `schedule`; `fetched` (the wave's successfully fetched pages — the
 *    one table behind both the O9 inc queue and the extraction results,
 *    which are projections of it; written when either is on, and the
 *    manifest's `fetched` key names the views it serves); `dead` (waves
 *    with errors only); and the opt-in `host_metrics` and `error_inc`
 *    (bundle mode). The manifest itself carries the wave's A7 metrics
 *    (`m.*`), its per-partition lineage counts (`lineage.<stage>`,
 *    `partition:rows` pairs) and its per-phase Spark work
 *    (`m.phase.<phase>.<stat>`, see [[PhaseStats]]) — driver-known values
 *    that need no parquet job;
 *  - the two tables that sit on a join's BIG side every wave — `seen`
 *    and `frontier` — are catalog tables at `<dir>/<name>`,
 *    PARTITIONED BY (wave) and CLUSTERED/SORTED BY (url_hash, url_canon)
 *    INTO `numBuckets` BUCKETS. Storage bucketing is what makes the
 *    per-wave dedup anti-join and leftover-frontier anti-join
 *    shuffle-free on their big side: the scan reports
 *    HashPartitioning(url_hash, url_canon), so only the wave's (small)
 *    probe side exchanges, and the CUMULATIVE seen set is never
 *    reshuffled again after its delta was written once. Wave partitions
 *    keep the commit rule: uncommitted `wave=k` partition dirs are crash
 *    debris and removed by [[cleanUncommitted]].
 *
 * Iceberg would give the same semantics via snapshot commits + bucket
 * partition transforms; the runtime has no iceberg jars (checked), so
 * this parquet+manifest+bucketed-table fallback per SURVEY §7.4-5.
 *
 * r5: the table format is now a SWITCH — `tableFormat = "iceberg"` (or
 * env GRAFT_TABLE_FORMAT=iceberg) emits the Iceberg DDL variant
 * ([[Checkpoint.bucketedDdl]]: `USING iceberg PARTITIONED BY (wave,
 * bucket(n, url_hash))`, no RECOVER PARTITIONS) against whatever catalog
 * the session configures; on a cluster with iceberg-runtime jars and
 * `spark.sql.sources.v2.bucketing.enabled=true` the seen-side anti-join
 * keeps the same exchange-free plan shape. This runtime cannot EXECUTE
 * that DDL (no jars), so the iceberg arm is pinned at the DDL level by
 * CheckpointSpec and the rest of the mapping below stays documentation:
 *
 * Porting to a cluster WITH iceberg-runtime jars (the drop-in map — each
 * concept here is deliberately snapshot-shaped so the swap is local to
 * this class):
 *  - `commit(w, props)` → one Iceberg transaction appending the wave's
 *    files; the manifest properties ride as snapshot summary metadata
 *    (`snapshot.summary()` carries the same key→value strings);
 *  - `latestWave`/`manifest(w)` → current snapshot / snapshot-by-id
 *    summary lookup; `cleanUncommitted` → nothing (uncommitted files are
 *    invisible to Iceberg by construction);
 *  - `CLUSTERED BY ... INTO n BUCKETS` → `PARTITIONED BY
 *    (bucket(n, url_hash))` with storage-partitioned join enabled
 *    (`spark.sql.sources.v2.bucketing.enabled`) to keep the seen-side
 *    anti-join exchange-free, same plan shape as the catalog tables here;
 *  - `readBucketedWave(name, w)` → time-travel or the `wave` partition
 *    column, unchanged semantics.
 */
final class Checkpoint(spark: SparkSession, val dir: String, numBuckets: Int = 32,
    tableFormat: String = sys.env.getOrElse("GRAFT_TABLE_FORMAT", "parquet")) {

  require(tableFormat == "parquet" || tableFormat == "iceberg",
    s"unsupported tableFormat '$tableFormat' (parquet | iceberg)")

  private val manifestDir: Path = Paths.get(dir, "manifest")
  Files.createDirectories(manifestDir)

  def waveDir(w: Int): String = s"$dir/wave=$w"

  /** Bucketed-table names synced by [[cleanUncommitted]]. */
  val bucketedNames: Seq[String] = Seq("seen", "frontier")

  /** Catalog-safe table name, unique per checkpoint LOCATION (normalized
   *  absolute path — trailing-slash/relative aliases of one dir must not
   *  register distinct catalog tables over the same files) and stable
   *  across sessions (resume re-derives it). */
  private def tableName(name: String): String = {
    val canonical = Paths.get(dir).toAbsolutePath.normalize.toString
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_${name}_$md"
  }

  /** (Re-)register the bucketed wave-partitioned table `<dir>/<name>` and
   *  sync partitions with the files on disk. `reset = true` (the run
   *  path, after cleanUncommitted) DROPs first so a resume never sees
   *  stale partition registrations for removed waves; `reset = false`
   *  (read accessors inspecting a checkpoint) uses CREATE IF NOT EXISTS,
   *  so looking at a live job's tables never re-executes DDL under it.
   *  Idempotent; data columns must lead with (url_hash, url_canon). */
  def ensureBucketed(name: String, dataColsDdl: String, reset: Boolean = true): Unit = {
    val t = tableName(name)
    Files.createDirectories(Paths.get(dir, name)) // RECOVER needs the location
    // bucket count is a property of the FILES already on disk (bucket ids
    // are encoded in file names): re-registering existing data under a
    // different count would silently misroute the co-partitioned joins
    // and re-admit seen URLs — refuse instead
    val marker = Paths.get(dir, name, ".buckets")
    if (Files.exists(marker)) {
      val existing = Files.readString(marker).trim.toInt
      require(existing == numBuckets,
        s"checkpoint table '$name' at $dir was written with $existing buckets; " +
        s"resuming with numBuckets=$numBuckets would corrupt its storage-partitioned joins")
    }
    if (reset) spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(Checkpoint.bucketedDdl(t, dataColsDdl, numBuckets, s"$dir/$name", tableFormat))
    // the marker lands only after CREATE succeeded: a failed registration
    // must not leave a bucket-count claim behind
    if (!Files.exists(marker)) Files.writeString(marker, numBuckets.toString)
    // Iceberg tracks its files through snapshot metadata — RECOVER
    // PARTITIONS is a Hive-layout concept and unsupported there
    if (tableFormat == "parquet") spark.sql(s"ALTER TABLE $t RECOVER PARTITIONS")
  }

  /** Is the bucketed table registered in this session's catalog? */
  def bucketedRegistered(name: String): Boolean =
    spark.catalog.tableExists(tableName(name))

  /** Append one wave's rows. The pre-insert repartition uses exactly the
   *  bucket keys and count, so every task holds one bucket's rows and
   *  writes one file (no small-file fan-out); the insert's local sort
   *  satisfies SORTED BY. `df` columns must match the table's data
   *  columns in order (insertInto is positional). */
  def writeBucketed(df: DataFrame, w: Int, name: String): Unit =
    df.withColumn("wave", org.apache.spark.sql.functions.lit(w))
      .repartition(numBuckets,
        org.apache.spark.sql.functions.col("url_hash"),
        org.apache.spark.sql.functions.col("url_canon"))
      .write.mode("append").insertInto(tableName(name))

  /** All committed rows up to and including wave `upTo` (partition-pruned). */
  def readBucketed(name: String, upTo: Int): DataFrame =
    spark.table(tableName(name))
      .filter(org.apache.spark.sql.functions.col("wave") <= upTo)

  /** One wave's rows, without the partition column. */
  def readBucketedWave(name: String, w: Int): DataFrame =
    spark.table(tableName(name))
      .filter(org.apache.spark.sql.functions.col("wave") === w)
      .drop("wave")

  def write(df: DataFrame, w: Int, name: String): Unit =
    df.write.mode("overwrite").parquet(s"${waveDir(w)}/$name")

  def read(w: Int, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"${waveDir(w)}/$name")

  /** Union of a per-wave table across committed waves [0, upTo]. */
  def readAll(upTo: Int, name: String, schema: StructType): DataFrame =
    readWaves(0 to upTo, name, schema)

  /** Union of a per-wave table over the given waves (those that wrote it). */
  def readWaves(waves: Seq[Int], name: String, schema: StructType): DataFrame = {
    val paths = waves.map(w => s"${waveDir(w)}/$name")
      .filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  def commit(w: Int, state: Map[String, String]): Unit = {
    val props = new Properties()
    state.foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("wave", w.toString)
    props.setProperty("layout", Checkpoint.Layout)
    val tmp = manifestDir.resolve(s".wave-$w.tmp")
    val out = Files.newOutputStream(tmp)
    try props.store(out, null) finally out.close()
    Files.move(tmp, manifestDir.resolve(f"wave-$w%05d.properties"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def committedWaves: Seq[Int] = {
    if (!Files.exists(manifestDir)) return Seq.empty
    Files.list(manifestDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("wave-") && s.endsWith(".properties") =>
        s.stripPrefix("wave-").stripSuffix(".properties").toInt }
      .toSeq
  }

  /** The latest committed wave; its manifest's layout is checked, so
   *  resuming or reading a checkpoint of another layout fails here. */
  def latestWave: Option[Int] = committedWaves.maxOption.map { w => manifest(w); w }

  /** Wave `w`'s manifest; fails when it was written in another layout. */
  def manifest(w: Int): Map[String, String] = {
    val p = manifestDir.resolve(f"wave-$w%05d.properties")
    val props = new Properties()
    val in = Files.newInputStream(p)
    try props.load(in) finally in.close()
    val m = props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
    m.get("layout") match {
      case Some(Checkpoint.Layout) => m
      case found =>
        throw new IllegalStateException(
          s"checkpoint $dir: the manifest of wave $w " +
          found.fold("has no 'layout' key (it was written in the older per-table layout " +
            "with separate inc/results/lineage tables)")(l => s"has layout '$l'") +
          s"; this engine reads layout '${Checkpoint.Layout}' only — start the crawl " +
          "in a new directory")
    }
  }

  /** Drop any uncommitted wave outputs > latest manifest (crash debris):
   *  top-level `wave=k` dirs and, inside each bucketed table, `wave=k`
   *  partition dirs. */
  def cleanUncommitted(): Unit = {
    val latest = latestWave.getOrElse(-1)
    def clean(root: Path): Unit = {
      if (!Files.isDirectory(root)) return
      Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("wave="))
        .filter(p => p.getFileName.toString.stripPrefix("wave=").toInt > latest)
        .foreach(deleteRecursively)
    }
    clean(Paths.get(dir))
    bucketedNames.foreach(n => clean(Paths.get(dir, n)))
  }

  private def deleteRecursively(p: Path): Unit = Checkpoint.deleteRecursively(p)
}

object Checkpoint {
  /** On-disk layout of the per-wave outputs (see the class scaladoc),
   *  written as the `layout` key of every manifest. Layout 1 (no key)
   *  kept separate inc, results and lineage tables per wave. */
  val Layout = "2"

  /** DDL for the bucketed big-side store under each table format — the
   *  r5 Iceberg switch, unit-testable without executing (this runtime
   *  has no iceberg jars). Both forms co-locate on (url_hash, …): the
   *  parquet form via Spark catalog bucketing, the Iceberg form via the
   *  `bucket(n, url_hash)` partition transform (its bucket function
   *  hashes the FIRST column only — single-key, which still co-partitions
   *  the anti-join probes since url_hash determines url_canon
   *  modulo the 64-bit hash; the SORTED BY locality moves to a write
   *  `sortWithinPartitions`, applied by writeBucketed's repartition+sort
   *  shape either way). */
  def bucketedDdl(table: String, dataColsDdl: String, numBuckets: Int,
      location: String, format: String): String = format match {
    case "parquet" =>
      s"""CREATE TABLE IF NOT EXISTS $table ($dataColsDdl, wave INT)
      USING parquet PARTITIONED BY (wave)
      CLUSTERED BY (url_hash, url_canon) SORTED BY (url_hash, url_canon)
      INTO $numBuckets BUCKETS LOCATION '$location'"""
    case "iceberg" =>
      s"""CREATE TABLE IF NOT EXISTS $table ($dataColsDdl, wave INT)
      USING iceberg PARTITIONED BY (wave, bucket($numBuckets, url_hash))
      LOCATION '$location'"""
    case other =>
      throw new IllegalArgumentException(s"unsupported table format '$other'")
  }

  /** Recursive delete that closes its directory streams (Files.list
   *  leaks an fd per directory if left to finalization). */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children = try s.iterator().asScala.toSeq finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
