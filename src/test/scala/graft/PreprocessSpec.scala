package graft

import org.apache.spark.sql.functions._

/** Ports cocoa/preprocess_test.py invariants. */
class PreprocessSpec extends SparkSpec {
  import spark.implicits._

  test("clean drops null and non-positive conversions (preprocess_test.py:60-69)") {
    val df = Seq(
      (1L, Some(5.0)), (2L, Some(0.0)), (3L, Some(-1.0)), (4L, None)
    ).toDF("id", "conv")
    val cleaned = Preprocess.clean(df, "conv")
    assert(cleaned.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("dummy width arithmetic (preprocess_test.py:45-58)") {
    // get_dummies adds one indicator per distinct value and removes the
    // original column: width = original - |cats| + Σ nunique.
    val df = Seq(
      (1L, "x", "p"), (2L, "y", "q"), (3L, "z", "p")
    ).toDF("id", "c1", "c2")
    val wide = Preprocess.dummyEncode(df, Seq("c1", "c2"))
    assert(wide.columns.length == 1 + 3 + 2)
    assert(wide.columns.toSet ==
      Set("id", "c1_x", "c1_y", "c1_z", "c2_p", "c2_q"))
    val r = wide.filter(col("id") === 1).head()
    assert(r.getAs[Int]("c1_x") == 1 && r.getAs[Int]("c1_y") == 0 &&
           r.getAs[Int]("c2_p") == 1)
  }

  test("union with consent flag preserves cardinality (preprocess.py:136-139)") {
    val a = Seq((1L, 2.0)).toDF("id", "conv")
    val b = Seq((2L, 3.0), (3L, 4.0)).toDF("id", "conv")
    val u = Preprocess.unionWithConsentFlag(a, b)
    assert(u.count() == 3)
    assert(u.filter(col("consent") === 1).count() == 2)
    val (nc, c) = Preprocess.splitByConsent(u)
    assert(nc.count() == 1 && c.count() == 2)
  }

  test("token features skip null categories like get_dummies NaN") {
    val df = Seq((1L, Some("a"), "z"), (2L, None, "z"))
      .toDF("id", "c1", "c2")
      .withColumn("features", Preprocess.tokenFeatures(Seq("c1", "c2")))
    val toks = df.orderBy("id").select("features").as[Seq[String]].collect()
    assert(toks(0) == Seq("c1=a", "c2=z"))
    assert(toks(1) == Seq("c2=z"))
  }

  test("manhattan distance over token sets equals dummy-space L1") {
    // rows differing in one categorical: dummy L1 = 2 (one 1→0, one 0→1)
    val d = Manhattan.dist(
      array(lit("c=a"), lit("d=x")), array(lit("c=b"), lit("d=x")), Nil)
    val v = Seq(1).toDF("i").select(d.as("d")).head().getDouble(0)
    assert(v == 2.0)
  }

  test("hierarchy split yields level columns, null-padded") {
    val df = Seq((1L, "a_b_c"), (2L, "a_b")).toDF("id", "h")
    val out = Preprocess.splitHierarchy(df, "h", "_", 3).orderBy("id")
      .select("h_l0", "h_l1", "h_l2").collect()
    assert(out(0).toSeq == Seq("a", "b", "c"))
    assert(out(1).toSeq == Seq("a", "b", null))
  }

  test("cleanFn/featureFn hooks extend the prepare pipeline (preprocess.py:30-78)") {
    val consent = Seq((1L, 5.0, "x", 99.0), (2L, 6.0, "y", 1.0))
      .toDF("id", "conv", "cat", "extra")
    val noconsent = Seq((3L, 7.0, "x", 2.0)).toDF("id", "conv", "cat", "extra")
    val cfg = JobConfig(
      idCols = Seq("id"), conversionCol = "conv",
      dropCols = Seq("extra"), // dropped after cleaning, before encoding
      cleanFn = df => df.filter(col("extra") < 50), // custom cleaning rule
      featureFn = df => df.withColumn("cat2", concat(col("cat"), lit("!"))))
    val (nc, c) = CocoaPipeline.prepare(noconsent, consent, cfg, Seq("cat", "cat2"))
    assert(c.count() == 1) // consent row with extra=99 cleaned away
    val toks = nc.select("features").as[Seq[String]].head()
    assert(toks.contains("cat2=x!")) // engineered feature entered the space
    assert(!nc.columns.contains("extra") && !c.columns.contains("extra"))
  }

  test("row ids are dense, deterministic, zero-based") {
    val df = Seq(30L, 10L, 20L).toDF("id")
    val out = Preprocess.withRowIds(df, Seq("id"), "idx")
      .orderBy("idx").select("id").as[Long].collect()
    assert(out.toSeq == Seq(10L, 20L, 30L))
  }

  test("distributed row ids equal the window form with no single-task stage") {
    val df = spark.range(0, 997).select(
      (col("id") * 7919 % 997).as("key"), col("id").as("payload"))
      .repartition(13) // scrambled input across many partitions
    val window = Preprocess.withRowIds(df, Seq("key"), "idx")
      .select("key", "payload", "idx").collect().map(_.toSeq).toSet
    val dist = Preprocess.withRowIdsDistributed(df, Seq("key"), "idx")
    assert(dist.rdd.getNumPartitions > 1) // genuinely distributed
    assert(dist.select("key", "payload", "idx").collect().map(_.toSeq).toSet == window)
  }

  test("distributed running flag count equals the global window form") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 499).select(
      (col("id") * 7919 % 499).as("key"),
      (col("id") % 3 === 0).cast("int").as("flag"),
      col("id").as("payload"))
      .repartition(11)
    val w = Window.orderBy("key")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.withColumn("rc", sum("flag").over(w))
      .select("key", "flag", "payload", "rc").collect().map(_.toSeq).toSet
    val dist = Preprocess.withRunningFlagCount(df, Seq("key"), "flag", "rc")
    assert(dist.rdd.getNumPartitions > 1) // no single-task stage
    assert(dist.select("key", "flag", "payload", "rc")
      .collect().map(_.toSeq).toSet == windowed)
  }

  test("distributed per-group row ids equal the partitioned window form") {
    import org.apache.spark.sql.expressions.Window
    // few groups × many rows: each group MUST span several range
    // partitions, exercising the cross-partition offset stitching
    val df = spark.range(0, 900).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") * 7919 % 900).as("key"),
      col("id").as("payload"))
      .repartition(13)
    val windowed = df.withColumn("idx",
        row_number().over(Window.partitionBy("g").orderBy("key")).cast("long") - 1)
      .select("g", "key", "payload", "idx").collect().map(_.toSeq).toSet
    val dist = Preprocess.withGroupRowIdsDistributed(df, Seq("g"), Seq("key"), "idx")
    assert(dist.rdd.getNumPartitions > 1) // no per-group single-task stage
    assert(dist.select("g", "key", "payload", "idx")
      .collect().map(_.toSeq).toSet == windowed)
  }

  test("distributed ops release their own input pin and keep a caller's") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "withRowIdsDistributed" -> (Preprocess.withRowIdsDistributed(_, Seq("key"), "out")),
      "withGroupRowIdsDistributed" ->
        (Preprocess.withGroupRowIdsDistributed(_, Seq("g"), Seq("key"), "out")),
      "withRunningSum" -> (Preprocess.withRunningSum(_, Seq("key"), "v", "out")),
      "withRunningFlagCount" -> (Preprocess.withRunningFlagCount(_, Seq("key"), "v", "out")))
    for ((name, op) <- ops) {
      val df = spark.range(0, 200).select(
        (col("id") % 2).cast("string").as("g"),
        (col("id") * 7919 % 200).as("key"),
        (col("id") % 3).as("v"))
      assert(op(df).count() == 200)
      assert(df.storageLevel == StorageLevel.NONE, s"$name left its input pinned")
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        assert(op(df).count() == 200)
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK,
          s"$name dropped the caller's pin")
      } finally df.unpersist()
    }
    // a null value or flag fails the sums job (never counts as 0), and the
    // op's own pin still goes
    val nulls = spark.range(0, 200).select(col("id").as("key"),
      when(col("id") =!= 7, col("id") % 2).as("v"))
    for ((name, op) <- ops.drop(2)) {
      intercept[org.apache.spark.SparkException](op(nulls))
      assert(nulls.storageLevel == StorageLevel.NONE, s"$name kept its pin after a failure")
    }
  }
}
