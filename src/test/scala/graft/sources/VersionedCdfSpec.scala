package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The stored change-data feed: append commits hardlink their files
  * as inserts, merge commits write classified post-image rows,
  * compactions publish empty feeds, plain overwrites fail loudly and
  * are repairable; the batch and streaming readers see the same rows
  * and the streaming reader is exactly-once across restarts. */
class VersionedCdfSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_cdf").toString

  private def feedRows(path: String, vFrom: Int, vTo: Int) =
    Versioned.readChanges(spark, path, vFrom, vTo)
      .select("k", "name", "amt", "_commit_version", "_change_type")
      .as[(Long, String, Option[Long], Int, String)].collect().toSet

  test("appends land as zero-copy insert feeds; merge writes classified changes; compact is empty") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "name", "amt"), path, overwrite = false)
    Versioned.commit(Seq((3L, "c", 30L)).toDF("k", "name", "amt"),
      path, overwrite = false)
    // v2: update k=1 (post-image amt=11), insert k=4, delete k=2,
    // and a delete of an ABSENT key (9) that must emit nothing
    val batch = Seq((1L, "a", 11L, "update"), (4L, "d", 40L, "insert"),
      (2L, "b", 0L, "delete"), (9L, "x", 0L, "delete"))
      .toDF("k", "name", "amt", "change_type")
    val v2 = Versioned.applyChangeFeed(spark, path, batch, Seq("k"))
    assert(v2 == 2)
    val v3 = Versioned.compact(spark, path, targetFiles = 1)
    assert(v3 == 3)
    assert(feedRows(path, 0, 3) == Set(
      (1L, "a", Some(10L), 0, "insert"), (2L, "b", Some(20L), 0, "insert"),
      (3L, "c", Some(30L), 1, "insert"),
      (1L, "a", Some(11L), 2, "update"), (4L, "d", Some(40L), 2, "insert"),
      (2L, null, None, 2, "delete")))
    // the append feed is hardlinks, not copies: every linked file has
    // link count ≥ 2 (one name in data/, one in the feed)
    val ins0 = Versioned.changeDirPath(path, 0).resolve("ct=insert")
    val linked = java.nio.file.Files.list(ins0).iterator()
    var n = 0
    while (linked.hasNext) {
      val p = linked.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        n += 1
        assert(java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Integer] >= 2, s"$p is a copy, not a link")
      }
    }
    assert(n > 0, "no linked insert files in the v0 feed")
    // partition pruning honors the asked range
    assert(feedRows(path, 1, 1) == Set((3L, "c", Some(30L), 1, "insert")))
    // the merged table itself is right (feed and table agree)
    assert(Versioned.read(spark, path).as[(Long, String, Long)]
      .collect().toSet == Set((1L, "a", 11L), (3L, "c", 30L),
        (4L, "d", 40L)))
  }

  test("streaming reader sees every commit exactly once, across a restart") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", 10L)).toDF("k", "name", "amt"),
      path, overwrite = false)
    val ckpt = tmpTable()
    val out = tmpTable() + "/sink"
    // parquet sink (memory can't recover a checkpoint): the accumulated
    // output across both runs is the exactly-once evidence
    def start() = Versioned.readChangeStream(spark, path)
      .writeStream.format("parquet").option("path", out)
      .outputMode("append")
      .option("checkpointLocation", ckpt).start()
    def sunk(): Set[(Long, Int, String)] = spark.read.parquet(out)
      .select("k", "_commit_version", "_change_type")
      .as[(Long, Int, String)].collect().toSet
    val q1 = start()
    try {
      q1.processAllAvailable()
      Versioned.commit(Seq((2L, "b", 20L)).toDF("k", "name", "amt"),
        path, overwrite = false)
      Versioned.applyChangeFeed(spark, path,
        Seq((1L, "a", 0L, "delete")).toDF("k", "name", "amt", "change_type"),
        Seq("k"))
      q1.processAllAvailable()
      assert(sunk() == Set((1L, 0, "insert"), (2L, 1, "insert"),
        (1L, 2, "delete")))
    } finally q1.stop()
    // restart on the same checkpoint: already-seen feed files are NOT
    // replayed; only the post-restart commit adds rows
    val q2 = start()
    try {
      q2.processAllAvailable()
      Versioned.commit(Seq((5L, "e", 50L)).toDF("k", "name", "amt"),
        path, overwrite = false)
      q2.processAllAvailable()
      assert(sunk() == Set((1L, 0, "insert"), (2L, 1, "insert"),
        (1L, 2, "delete"), (5L, 3, "insert")))
    } finally q2.stop()
  }

  test("feed gaps fail loudly and repair deterministically; plain overwrite repairs as a key diff") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "name", "amt"), path, overwrite = false)
    // simulate the crash window: the append committed but its feed
    // rename never ran
    def rmRec(p: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f): Unit })
    rmRec(Versioned.changeDirPath(path, 0))
    val gapErr = intercept[RuntimeException](
      Versioned.readChanges(spark, path, 0, 0))
    assert(gapErr.getMessage.contains("repairChangeFeed"))
    // a plain overwrite has no stored feed either
    Versioned.commit(Seq((2L, "b", 21L), (3L, "c", 30L))
      .toDF("k", "name", "amt"), path, overwrite = true)
    val owErr = intercept[RuntimeException](
      Versioned.readChanges(spark, path, 1, 1))
    assert(owErr.getMessage.contains("overwrite"))
    assert(Versioned.repairChangeFeed(spark, path, Seq("k")) == Seq(0, 1))
    assert(feedRows(path, 0, 1) == Set(
      (1L, "a", Some(10L), 0, "insert"), (2L, "b", Some(20L), 0, "insert"),
      // key diff of the overwrite: 2 revalued, 3 new, 1 gone
      (2L, "b", Some(21L), 1, "update"), (3L, "c", Some(30L), 1, "insert"),
      (1L, null, None, 1, "delete")))
    // idempotent
    assert(Versioned.repairChangeFeed(spark, path, Seq("k")).isEmpty)
  }

  test("merge feeds stay exact under live concurrent appends (lost races re-derive)") {
    val path = tmpTable()
    Versioned.commit((0L to 9L).map(i => (i, s"n$i", i * 10))
      .toDF("k", "name", "amt"), path, overwrite = false)
    // thread B appends disjoint keys while thread A runs merges that
    // update+insert+delete; merges that lose the publish race must
    // re-derive from the new head, and the feed each merge publishes
    // is derived from the SAME base its commit won with — so for
    // every merge version v, the stored feed must equal the
    // recomputed snapshot diff v-1 → v exactly
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val appender = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = (0 until 3).foreach { i =>
        Versioned.commit(Seq((100L + i, s"app$i", 7L))
          .toDF("k", "name", "amt"), path, overwrite = false): Unit
      }
    })
    val mergeVersions = (0 until 3).map { i =>
      val batch = Seq(
        (i.toLong, s"upd$i", 1000L + i, "update"),
        (50L + i, s"ins$i", 2000L + i, "insert"),
        (9L - i, s"x", 0L, "delete"))
        .toDF("k", "name", "amt", "change_type")
      Versioned.applyChangeFeed(spark, path, batch, Seq("k"))
    }
    appender.get(); pool.shutdown()
    mergeVersions.foreach { v =>
      val stored = feedRows(path, v, v)
        .map { case (k, name, amt, _, ct) => (k, name, amt, ct) }
      val recomputed = Versioned.changeFeed(spark, path, v - 1, v, Seq("k"))
        .select("k", "name", "amt", "change_type")
        .as[(Long, String, Option[Long], String)].collect().toSet
      assert(stored == recomputed,
        s"v$v stored feed diverges from the snapshot diff:\n" +
          s"stored=$stored\nrecomputed=$recomputed")
    }
    // and the appends' feeds are their own rows
    val head = Versioned.latestVersion(path)
    val appendFeeds = (1 to head).filterNot(mergeVersions.contains)
      .flatMap(v => feedRows(path, v, v))
    assert(appendFeeds.forall(_._5 == "insert"))
    assert(appendFeeds.map(_._1).toSet == Set(100L, 101L, 102L))
  }

  /** Spark jobs each job group starts while `body` runs; a fence job
    * in its own group, seen ending by the listener, proves every
    * earlier job event was delivered (the listener bus is FIFO). */
  private def jobGroupsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val fenceEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groups.get(e.jobId) == "cdf-fence") fenceEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("cdf-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceEnded.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "fence job end never reached the listener")
      (out, groups.values().asScala.toSeq.filter(_ != "cdf-fence"))
    } finally sc.removeSparkListener(listener)
  }

  private def inGroup(g: String)(body: => DataFrame): DataFrame = {
    spark.sparkContext.setJobGroup(g, g)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("readChanges lists only the asked versions: no Spark job while the frame is built") {
    val path = tmpTable()
    // 42 feed versions, past the 32 dirs above which a whole-root
    // listing runs a Spark job; `s` puts a struct in the feed schema
    (0 to 41).foreach(i => Versioned.commit(
      Seq((i.toLong, s"r$i", i * 10L)).toDF("k", "name", "amt")
        .withColumn("s", struct(col("k").as("a"))),
      path, overwrite = false))
    val v = 20
    val tableSchema = Versioned.read(spark, path).schema
    val (df, groups) = jobGroupsDuring {
      val pruned = inGroup("cdf-build")(
        Versioned.readChanges(spark, path, v, v + 1))
      // the listener does catch a listing job: the whole-root read
      // of the same range lists every cv= dir in one
      inGroup("cdf-whole-root")(
        WholeRootFeed.read(spark, path, tableSchema, v, v + 1))
      pruned
    }
    assert(!groups.contains("cdf-build"),
      s"building the pruned feed frame started Spark jobs: $groups")
    assert(groups.contains("cdf-whole-root"),
      s"the whole-root control started no listing job: $groups")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains(s"/cv=$v/") ||
      f.contains(s"/cv=${v + 1}/")), s"read outside cv=$v..${v + 1}: $files")
    assert(df.select("k", "_commit_version", "_change_type")
      .as[(Long, Int, String)].collect().toSet ==
      Set((20L, 20, "insert"), (21L, 21, "insert")))
    // a range of compaction versions only (empty cv= dirs) is an
    // empty frame under exactly the scanned frame's schema
    val c1 = Versioned.compact(spark, path, targetFiles = 1)
    val c2 = Versioned.compact(spark, path, targetFiles = 1)
    assert(c2 == c1 + 1)
    val empty = Versioned.readChanges(spark, path, c1, c2)
    assert(empty.count() == 0)
    assert(empty.schema == df.schema,
      s"empty-range schema drifts:\n${empty.schema.treeString}\n" +
        s"vs scanned:\n${df.schema.treeString}")
  }

  test("cv/ct are reserved; vacuum trims the feed with the history") {
    val err = intercept[IllegalArgumentException](
      Versioned.commit(Seq((1L, 2L)).toDF("k", "cv"), tmpTable(),
        overwrite = false))
    assert(err.getMessage.contains("reserved"))
    val path = tmpTable()
    (0 to 2).foreach(i => Versioned.commit(
      Seq((i.toLong, s"r$i", 1L)).toDF("k", "name", "amt"),
      path, overwrite = false))
    Versioned.vacuum(path, retainFrom = 2)
    assert(!java.nio.file.Files.isDirectory(Versioned.changeDirPath(path, 0)))
    assert(!java.nio.file.Files.isDirectory(Versioned.changeDirPath(path, 1)))
    assert(java.nio.file.Files.isDirectory(Versioned.changeDirPath(path, 2)))
    // the retained feed still reads
    assert(feedRows(path, 2, 2) == Set((2L, "r2", Some(1L), 2, "insert")))
  }
}
