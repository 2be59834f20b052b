package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once-per-(JVM, corpus) derived tables — the "computed at
  * ingest, read back by every query" contract that q148's stored band
  * index introduced, named: signatures, band tables, codebooks are pure
  * functions of the corpus, so production materializes them ONCE and
  * every consumer reads the artifact. Re-deriving them per query is a
  * cost neither production nor the bench should pay.
  *
  * Artifacts are registered in the session catalog (keyed by a hash of
  * the corpus path, so different sf-dirs can't collide) and written
  * under the system tmpdir; both die with the JVM — the in-memory
  * catalog cannot outlive it anyway — and the files are removed by a
  * shutdown hook. At 100 TB the same tables live in the warehouse and
  * are refreshed by the ingest pipeline, not per session.
  *
  * [[pinned]] is the memory-resident flavor: same key, same staleness
  * contract, but the snapshot lives on the driver only, for small
  * dimensions whose parquet copy would cost more than it saves.
  */
object ArtifactStore {

  /** Corpus snapshot fingerprint — the staleness contract (round-12):
    * every stored artifact is "a pure function of the corpus", so its
    * identity must include WHICH corpus snapshot, not just which path.
    * The fingerprint digests the corpus directory's file inventory
    * (relative path, length, mtime) — the same signal warehouse file
    * indexes use — so a mutated/regenerated corpus at the SAME path
    * changes the artifact key and the next consumer silently REBUILDS
    * instead of reading ~20 queries' worth of stale derived data
    * (`ArtifactStalenessSpec` pins the lifecycle). O(#files) metadata
    * walk, no data scan; at 100 TB the ingest pipeline owns refresh
    * and this becomes the snapshot/version id the warehouse already
    * tracks. */
  private def corpusFingerprint(key: String): String = {
    val p = java.nio.file.Paths.get(key)
    if (!java.nio.file.Files.isDirectory(p)) "static"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      // no depth cap: a multi-level partitioned layout nests data files
      // deeper than any fixed maxDepth, and a file the walk can't see is
      // a mutation the fingerprint can't detect — the exact silent-stale
      // read this contract exists to prevent. Metadata-only, so flat
      // layouts pay nothing for the unbounded walk.
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted().forEach { f =>
        val rel = p.relativize(f).toString
        val attrs = java.nio.file.Files.readAttributes(
          f, classOf[java.nio.file.attribute.BasicFileAttributes])
        md.update(
          s"$rel|${attrs.size}|${attrs.lastModifiedTime.toMillis}\n"
            .getBytes("UTF-8"))
      } finally walk.close()
      md.digest().map("%02x".format(_)).mkString.take(8)
    }
  }

  private def tableName(name: String, key: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$key#${corpusFingerprint(key)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    s"graft_${name}_$tag"
  }

  // pid-scoped: the catalog entry is per-JVM but a shared path would
  // NOT be — a second JVM rebuilding the same artifact (same corpus
  // tag) would overwrite part files out from under this JVM's live
  // readers (observed as FILE_NOT_EXIST mid-query). Each JVM owns its
  // copy; ONE shutdown hook (registered on first use) reclaims the
  // whole pid directory — including the parent itself, so repeated
  // runs don't strand empty per-pid dirs. At scale the warehouse, not
  // tmpdir, owns artifacts and refresh is coordinated by ingest.
  //
  // The same race exists WITHIN a JVM across SparkSessions that do not
  // share a SharedState (each SharedState has its own catalog, so the
  // second session sees tableExists=false and rebuilds mode(overwrite)
  // onto the path the first session is reading). The artifact path is
  // therefore ALSO keyed on the SharedState identity below — sessions
  // sharing a catalog share files; sessions with separate catalogs get
  // separate copies, same rule as separate JVMs.
  private lazy val whDir: java.nio.file.Path = {
    val wh = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-artifacts-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile)))
    wh
  }

  /** Catalog-scoped artifact directory: sessions that share a
    * SharedState (and therefore a catalog) share files; a session with
    * its own SharedState gets its own subtree and can never overwrite
    * a sibling catalog's live artifacts. */
  private def ssDir(s: SparkSession): String =
    s"$whDir/ss${Integer.toHexString(System.identityHashCode(s.sharedState))}"

  /** Plain parquet artifact (small derived tables: signatures,
    * codebooks). `build` runs only on the first request per JVM. */
  def table(s: SparkSession, key: String, name: String)(
      build: => DataFrame): DataFrame = synchronized {
    val t = tableName(name, key)
    if (!s.catalog.tableExists(t)) {
      build.write.mode("overwrite").format("parquet")
        .option("path", s"${ssDir(s)}/$t").saveAsTable(t)
    }
    s.table(t)
  }

  /** Bucketed+sorted artifact — for tables consumed by repeated joins on
    * `keys`: the build repartitions on the keys first, so every bucket is
    * ONE file and the read-back scan is pre-partitioned AND pre-sorted —
    * joins on exactly `keys` need no Exchange (and no Sort) on this side. */
  def bucketed(s: SparkSession, key: String, name: String,
      keys: Seq[String], numBuckets: Int)(build: => DataFrame): DataFrame =
    synchronized {
      val t = tableName(name, key)
      if (!s.catalog.tableExists(t)) {
        Bucketing.writeBucketed(
          build.repartition(numBuckets, keys.map(org.apache.spark.sql.functions.col): _*),
          t, keys, numBuckets, ssDir(s))
      }
      s.table(t)
    }

  /** Hive-partitioned artifact — for layouts consumed by partition-
    * PRUNED scans (the ship-month lineitem of q29/q121): the build
    * shuffles rows onto the partition key first (file count = partition
    * -value count, not tasks × values), and the table registers as a
    * partitioned datasource table, so a reader's filter on the
    * partition column becomes the scan's PartitionFilters — directory
    * pruning before any data is read. The layout is a pure function of
    * the corpus: production writes it at ingest and every query reads
    * it back; re-writing it per query is a cost nothing should pay
    * (q29 used to — the write belongs here, the read in the query). */
  def partitioned(s: SparkSession, key: String, name: String,
      partCols: Seq[String])(build: => DataFrame): DataFrame = synchronized {
    val t = tableName(name, key)
    if (!s.catalog.tableExists(t)) {
      build.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").partitionBy(partCols: _*)
        .format("parquet").option("path", s"${ssDir(s)}/$t").saveAsTable(t)
    }
    s.table(t)
  }

  /** Pinned snapshots, one per (session catalog, name, key): the
    * `tableName` they were built under and the snapshot itself. */
  private val pins = mutable.Map.empty[(AnyRef, String, String), (String, DataFrame)]

  /** Memory-resident artifact for small dimensions: `build` is collected
    * once per session catalog and corpus snapshot into a local relation
    * on the driver, and every later call returns that same DataFrame
    * with no Spark job. Keyed like the disk flavors: when the
    * fingerprint under `key` changes, `build` runs again and the old
    * snapshot is dropped. Nothing is written to disk, and the snapshot
    * keeps no reference to the plan that built it (a persisted plan
    * would hold its broadcast relations' driver-side pages). Entries die
    * with their SparkContext: a listener on it drops them when it stops,
    * so a session on a new context (a new catalog) builds its own
    * snapshot and no entry keeps a stopped context reachable. */
  def pinned(s: SparkSession, key: String, name: String)(
      build: => DataFrame): DataFrame = synchronized {
    val t = tableName(name, key)
    val shared: AnyRef = s.sharedState
    val slot = (shared, name, key)
    pins.get(slot) match {
      case Some((`t`, df)) => df
      case _ =>
        if (!pins.keys.exists(_._1 eq shared))
          s.sparkContext.addSparkListener(new SparkListener {
            override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
              ArtifactStore.synchronized(pins.filterInPlace((k, _) => k._1 ne shared))
          })
        val b = build
        val df = s.createDataFrame(b.collect().toSeq.asJava, b.schema)
        pins(slot) = (t, df)
        df
    }
  }

  /** The contexts that pinned snapshots are held for. */
  private[graft] def pinnedContexts: Seq[org.apache.spark.SparkContext] = synchronized {
    pins.values.map(_._2.sparkSession.sparkContext).toSeq.distinct
  }

  /** Day-2 increment: append a new batch into an existing bucketed
    * artifact. Spark routes appended rows into their buckets (more
    * files per bucket), so the layout — and the exchange-free join
    * contract — survives corpus growth without ever re-shuffling the
    * existing data; only the per-bucket sort-on-read is re-paid once a
    * bucket holds multiple files. Column order must match the table. */
  def append(s: SparkSession, key: String, name: String,
      batch: DataFrame): Unit = synchronized {
    val t = tableName(name, key)
    require(s.catalog.tableExists(t), s"artifact $t has not been built")
    batch.write.mode("append").insertInto(t)
  }
}
