package graft

import org.apache.spark.sql.functions._

/** Scratch materialization: the shared-root conf must redirect scratch
  * writes (the cluster contract — executors must be able to read what the
  * driver-side plan wrote), and the default temp-dir path must keep
  * working for local mode.
  */
class ScratchSpec extends SparkSpec {

  test("default path: scratch table round-trips the relation") {
    import spark.implicits._
    val df = (1L to 100L).toDF("x").withColumn("y", col("x") * 2)
    val got = Scratch.table(df, "spec-default")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (1L to 100L).map(i => (i, i * 2)).toSet)
  }

  test("spark.graft.scratch.dir redirects scratch tables under the shared root") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_root")
    spark.conf.set(Scratch.ScratchDirConf, root.toString)
    try {
      val df = (1L to 50L).toDF("x")
      val got = Scratch.table(df, "spec-root")
        .collect().map(_.getLong(0)).toSet
      assert(got === (1L to 50L).toSet)
      // the table landed under the configured root, tagged and unique
      val children = java.nio.file.Files.list(root).iterator()
      val names = new scala.collection.mutable.ArrayBuffer[String]
      while (children.hasNext) names += children.next().getFileName.toString
      assert(names.exists(_.startsWith("graft-spec-root-")), names.toString)
    } finally spark.conf.unset(Scratch.ScratchDirConf)
  }

  /** One form of the fixture registry: serve `xs` under `key`, calling
    * `built` on every build; returns the values served and the fixture's
    * root directory.
    */
  private type Form = (String, Seq[Long], () => Unit) => (Set[Long], java.io.File)

  private val dataFrameForm: Form = (key, xs, built) => {
    import spark.implicits._
    val df = Scratch.fixture(spark, key) { built(); xs.toDF("x") }
    val file = df.inputFiles.head
    (df.collect().map(_.getLong(0)).toSet,
      new java.io.File(new java.net.URI(file.stripSuffix("/" + file.split('/').last)).getPath))
  }

  // the stream_attribution_outer shape: two subdirectories, then one more
  // file moved into one of them after its write, and no marker at the root
  private val dirForm: Form = (key, xs, built) => {
    import spark.implicits._
    val (root, schema) = Scratch.fixtureDir(spark, key) { b =>
      built()
      val (a, rest) = xs.splitAt(xs.size / 2)
      a.toDF("x").write.parquet(s"$b/a")
      rest.init.toDF("x").write.parquet(s"$b/b")
      rest.takeRight(1).toDF("x").coalesce(1).write.parquet(s"${b}_late")
      val late = new java.io.File(s"${b}_late").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(late.renameTo(new java.io.File(s"$b/b/zz_late.parquet")))
      xs.toDF("x").schema
    }
    (spark.read.schema(schema).parquet(s"$root/a", s"$root/b")
      .collect().map(_.getLong(0)).toSet, new java.io.File(root))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  for ((form, serve) <- Seq("fixture" -> dataFrameForm, "fixtureDir" -> dirForm)) {
    test(s"$form: derives ONCE per key, later calls serve from the files") {
      var derivations = 0
      def build() = serve(s"spec-$form|reuse", 1L to 25L, () => derivations += 1)._1
      val first = build()
      val second = build()
      assert(derivations === 1, "second call must not re-derive")
      assert(first === (1L to 25L).toSet)
      assert(second === first)
    }

    test(s"$form: keys isolate — per-sfDir fixtures never bleed") {
      val a = serve(s"spec-$form|dirA", 1L to 3L, () => ())._1
      val b = serve(s"spec-$form|dirB", 4L to 6L, () => ())._1
      assert(a === Set(1L, 2L, 3L))
      assert(b === Set(4L, 5L, 6L))
    }

    test(s"$form: an externally deleted fixture dir is rebuilt, not a dangling read") {
      var derivations = 0
      def build() = serve(s"spec-$form|rebuild", 1L to 5L, () => derivations += 1)
      val (_, dir) = build()
      assert(derivations === 1)
      deleteTree(dir)
      val again = build()._1
      assert(derivations === 2, "deleted fixture must re-derive")
      assert(again === (1L to 5L).toSet)
    }

    test(s"$form: a PARTIALLY deleted dir (no _SUCCESS) rebuilds — commit " +
        "marker, not bare existence, gates the cache (ADVICE r14)") {
      var derivations = 0
      def build() = serve(s"spec-$form|partial", 1L to 7L, () => derivations += 1)
      val (_, dir) = build()
      assert(derivations === 1)
      // simulate a half-deleted fixture: data files remain, commit marker gone
      val marker = new java.io.File(dir, "_SUCCESS")
      assert(marker.exists(), "a served fixture must have a _SUCCESS marker")
      assert(marker.delete())
      val again = build()._1
      assert(derivations === 2, "uncommitted fixture dir must re-derive")
      assert(again === (1L to 7L).toSet)
    }

    test(s"$form: fixtures of two source dirs, served A, B, A, build twice") {
      var derivations = 0
      for (d <- Seq("A", "B", "A"))
        serve(s"spec-$form-alternate|dir$d", 1L to 3L, () => derivations += 1)
      assert(derivations === 2, "returning to dir A must not rebuild it")
    }
  }

  test("fixture: honors spark.graft.scratch.dir — cluster runs materialize " +
      "under the shared root") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_fix_root")
    spark.conf.set(Scratch.ScratchDirConf, root.toString)
    try {
      val got = Scratch.fixture(spark, "spec-fixture|shared-root")(
        (1L to 7L).toDF("x")).collect().map(_.getLong(0)).toSet
      assert(got === (1L to 7L).toSet)
      val children = java.nio.file.Files.list(root).iterator()
      val names = new scala.collection.mutable.ArrayBuffer[String]
      while (children.hasNext) names += children.next().getFileName.toString
      assert(names.exists(_.startsWith("graft-fix-")), names.toString)
    } finally spark.conf.unset(Scratch.ScratchDirConf)
  }

  test("fixture: distinct keys build without serializing behind each " +
      "other (per-key locks, ADVICE r14)") {
    import spark.implicits._
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      Scratch.fixture(spark, "spec-fixture|slow-key") {
        slowEntered.countDown()
        gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        (1L to 3L).toDF("x")
      }
    })
    slow.start()
    assert(slowEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // while the slow key's derivation holds ITS lock, another key must
    // both build and serve — under the old global lock this deadlocks
    // (the slow build holds the registry for its whole derivation)
    val other = Scratch.fixture(spark, "spec-fixture|fast-key") {
      (1L to 4L).toDF("x")
    }.collect().map(_.getLong(0)).toSet
    assert(other === (1L to 4L).toSet)
    gate.countDown()
    slow.join(30000)
    assert(!slow.isAlive)
  }
}
