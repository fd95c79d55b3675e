package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.mr.SparkTestSession

/** Source/sink surface beyond the fixture parquet (SURVEY.md §2.2
  * "Scans/sources"/"Sinks"): csv/json round-trips with explicit
  * schemas, hive-partitioned writes with partition pruning, and
  * bucketed tables giving shuffle-free co-located joins — the two
  * layout techniques that matter most at 100 TB (prune what you can,
  * never shuffle what is already co-located).
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  test("csv and json round-trip with explicit schemas") {
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val dir = Files.createTempDirectory("graft-src").toString

    orders.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val csvBack = spark.read.option("header", "true")
      .schema(orders.schema).csv(s"$dir/csv")
    assert(csvBack.collect().map(_.toSeq).toSet ===
      orders.collect().map(_.toSeq).toSet)

    orders.write.mode("overwrite").json(s"$dir/json")
    val jsonBack = spark.read.schema(orders.schema).json(s"$dir/json")
    assert(jsonBack.collect().map(_.toSeq).toSet ===
      orders.collect().map(_.toSeq).toSet)
  }

  test("orc round-trips with schema preserved and pushdown available") {
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val dir = Files.createTempDirectory("graft-orc").toString
    orders.write.mode("overwrite").orc(s"$dir/orc")
    val back = spark.read.orc(s"$dir/orc")
    assert(back.schema === orders.schema)
    assert(back.collect().map(_.toSeq).toSet ===
      orders.collect().map(_.toSeq).toSet)
    // ORC scans take predicate pushdown like parquet — pin it
    val filtered = back.filter($"o_orderkey" === 1L)
    filtered.queryExecution.executedPlan.execute().count()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey)"),
      plan.take(400))
  }

  test("hive-partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft-part").toString
    Layout.writePartitioned(
      Tables.orders(spark, sfDir)
        .withColumn("order_year", year($"o_orderdate")),
      s"$dir/orders_by_year", "order_year")

    val pruned = spark.read.parquet(s"$dir/orders_by_year")
      .filter($"order_year" === 1996)
    pruned.queryExecution.executedPlan.execute().count()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:"), plan.take(400))
    assert(plan.contains("order_year"), "partition filter not applied")
    // the pruned read only sees 1996 rows
    val expected = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === 1996).count()
    assert(pruned.count() === expected && expected > 0)
  }

  test("bucketed tables join without a shuffle on either side") {
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    Layout.writeBucketed(orders, "orders_bkt", "o_orderkey", 4)
    Layout.writeBucketed(lineitem, "lineitem_bkt", "l_orderkey", 4)

    val joined = Layout.coLocatedJoin(spark, "orders_bkt", "lineitem_bkt",
        "o_orderkey", "l_orderkey")
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    joined.queryExecution.executedPlan.execute().count()
    val plan = joined.queryExecution.executedPlan.toString
    // the bucketed join itself must not shuffle either side: the only
    // exchange in the plan is the one above the final aggregation
    val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1).mkString
    assert(!joinPart.contains("Exchange "),
      s"bucketed join still shuffles:\n${plan.take(1200)}")
    // and values match the plain join
    val expected = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expected)
  }

  test("text source: reference-style line-oriented directory reads") {
    val dir = Files.createTempDirectory("graft-text").toString
    Seq("line a", "line b", "line c").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val back = spark.read.textFile(s"$dir/in").collect().sorted
    assert(back === Array("line a", "line b", "line c"))
  }

  test("compaction folds a fragmented table into size-targeted files") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val orders = Tables.orders(spark, sfDir)
    // fragment: 40 small files, the streaming-writer failure mode
    orders.repartition(40).write.mode("overwrite").parquet(s"$dir/frag")
    val fragFiles = new java.io.File(s"$dir/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles === 40)
    val fragBytes = new java.io.File(s"$dir/frag").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target ~quarter of the total → expect ceil(total/target) = 4 files
    val n = Layout.compact(spark, s"$dir/frag", s"$dir/out",
      targetBytes = (fragBytes + 3) / 4)
    val outFiles = new java.io.File(s"$dir/out").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(n >= 2 && n <= 5 && outFiles === n,
      s"expected ~4 compacted files, got n=$n outFiles=$outFiles")
    // content survives byte-for-byte at the row level
    val a = spark.read.parquet(s"$dir/out").collect().map(_.toSeq).toSet
    val b = orders.collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("z-order layout confines a 2-D box query to few files") {
    val dir = Files.createTempDirectory("graft-zorder").toString
    // two well-spread, independent dimensions (the tiny-SF part/supp
    // keys are near-constant and would degenerate the 2-D space)
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber",
        ($"l_orderkey" % 1024).as("x"),
        ($"l_extendedprice".cast("long") % 1024).as("y"))
    val nFiles = 16
    // naive layout: round-robin over unrelated order — box rows scatter
    li.repartition(nFiles).write.mode("overwrite").parquet(s"$dir/naive")
    Layout.zOrderWrite(li, "x", "y", s"$dir/z", nFiles)
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter($"x" < 128 && $"y" < 128)
        .select(input_file_name()).distinct().count()
    val naive = filesTouched(s"$dir/naive")
    val z = filesTouched(s"$dir/z")
    // same rows either way
    assert(spark.read.parquet(s"$dir/z")
      .filter($"x" < 128 && $"y" < 128).count() ===
      spark.read.parquet(s"$dir/naive")
        .filter($"x" < 128 && $"y" < 128).count())
    assert(z < naive,
      s"z-order should confine the box: z=$z naive=$naive")
    assert(z <= nFiles / 4, s"box rows spread over $z of $nFiles z-files")
  }

  test("linedir DSv2 source: one partition per file, sorted, with provenance") {
    val dir = Files.createTempDirectory("graft-linedir").toString
    // written out of sorted order on purpose
    Files.writeString(java.nio.file.Paths.get(dir, "b.txt"), "b1\nb2\n")
    Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), "a1\na2\na3\n")
    Files.writeString(java.nio.file.Paths.get(dir, "c.txt"), "c1\n")

    val df = spark.read.format("linedir").load(dir)
    val rows = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set(
      ("a1", "a.txt", 1L), ("a2", "a.txt", 2L), ("a3", "a.txt", 3L),
      ("b1", "b.txt", 1L), ("b2", "b.txt", 2L), ("c1", "c.txt", 1L)))

    // file-granular splits in sorted filename order (reference O1 parity)
    assert(df.rdd.getNumPartitions === 3)
    val perPart = df.select($"file").rdd
      .mapPartitionsWithIndex((i, it) => Iterator(i -> it.map(_.getString(0)).toSet))
      .collect().toMap
    assert(perPart === Map(0 -> Set("a.txt"), 1 -> Set("b.txt"), 2 -> Set("c.txt")))

    // matches the built-in text source on the value column
    assert(df.select($"value").collect().map(_.getString(0)).sorted.toSeq ===
      spark.read.text(dir).collect().map(_.getString(0)).sorted.toSeq)
  }

  test("linedir pushes column pruning into the reader") {
    val dir = Files.createTempDirectory("graft-linedir2").toString
    Files.writeString(java.nio.file.Paths.get(dir, "x.txt"), "l1\nl2\n")
    val pruned = spark.read.format("linedir").load(dir).select($"file", $"line")
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("x.txt", 1L), ("x.txt", 2L)))
    // the scan's read schema must have dropped `value`
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("value"), s"pruning did not reach the scan:\n$scan")
  }

  test("linedir rejects a user-supplied schema with unknown names or " +
    "wrong types at analysis time") {
    val dir = Files.createTempDirectory("graft-linedir-sch").toString
    Files.writeString(java.nio.file.Paths.get(dir, "x.txt"), "l1\n")
    // valid subset schema reads fine
    val subset = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType)))
    assert(spark.read.format("linedir").schema(subset).load(dir)
      .collect().map(_.getString(0)).toSeq === Seq("l1"))
    // unknown field name: analysis-time error, not a task MatchError
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("valeu",
        org.apache.spark.sql.types.StringType)))
    val e1 = intercept[Exception] {
      spark.read.format("linedir").schema(bad).load(dir).collect()
    }
    assert(e1.getMessage.contains("no column 'valeu'"), e1.getMessage)
    // right name, wrong type
    val badType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("line",
        org.apache.spark.sql.types.IntegerType)))
    val e2 = intercept[Exception] {
      spark.read.format("linedir").schema(badType).load(dir).collect()
    }
    assert(e2.getMessage.contains("is bigint"), e2.getMessage)
  }

  test("linedir DSv2 sink: staged write, part-%05d commit, overwrite/append") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-linedir-w").toString

    spark.range(0, 100, 1, 3)
      .select(col("id").cast("string").as("value"))
      .write.format("linedir").mode("overwrite").save(dir)

    // reference part-file naming, one per partition, no staging left over
    val names = LineDir.listSorted(dir)
    assert(names === Seq("part-00000", "part-00001", "part-00002"))
    assert(Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .forall(p => !p.getFileName.toString.startsWith(".")),
      "staging dir survived commit")

    // round-trip through the read path
    val back = spark.read.format("linedir").load(dir)
    assert(back.select($"value").collect().map(_.getString(0).toLong).sorted
      === (0L until 100L).toArray)

    // overwrite replaces prior contents entirely
    spark.range(0, 5, 1, 1).select(col("id").cast("string").as("value"))
      .write.format("linedir").mode("overwrite").save(dir)
    assert(LineDir.listSorted(dir) === Seq("part-00000"))
    assert(spark.read.format("linedir").load(dir).count() === 5)

    // append numbers new parts past the existing ones — no clobbering
    spark.range(5, 8, 1, 2).select(col("id").cast("string").as("value"))
      .write.format("linedir").mode("append").save(dir)
    assert(LineDir.listSorted(dir) ===
      Seq("part-00000", "part-00001", "part-00002"))
    assert(spark.read.format("linedir").load(dir).count() === 8)

    // a multi-column write is rejected up front
    intercept[Exception] {
      spark.range(3).selectExpr("cast(id as string) as value", "id")
        .write.format("linedir").mode("overwrite").save(dir)
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // The 100 TB star-join staple: the fact table is hive-partitioned on
    // the join key's column, the dim filter is only known at runtime, and
    // DPP turns it into a partition filter on the fact SCAN — without it
    // every partition is read and rows die in the join.
    val dir = Files.createTempDirectory("graft-dpp").toString
    Tables.orders(spark, sfDir)
      .write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real scan: an inline relation constant-folds its
    // filter away and DPP never sees a selective predicate
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("O", "open"), ("F", "filled"), ("P", "pending"))
      .toDF("status", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val j = fact.join(dim, $"o_orderstatus" === $"status")
      .filter($"label" === "filled")
      .groupBy($"status").agg(count(lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no runtime partition filter on the fact scan:\n${plan.take(1200)}")
    assert(j.collect().map(_.getString(0)).toSeq === Seq("F"))
  }

  test("linedir targetPartitionBytes coalesces small files, preserving order") {
    val dir = Files.createTempDirectory("graft-linedir-c").toString
    for (i <- 0 until 8)
      Files.writeString(java.nio.file.Paths.get(dir, f"f$i%02d.txt"),
        s"line-$i\n")

    val plain = spark.read.format("linedir").load(dir)
    assert(plain.rdd.getNumPartitions === 8)

    val coalesced = spark.read.format("linedir")
      .option("targetPartitionBytes", "100").load(dir)
    assert(coalesced.rdd.getNumPartitions < 8,
      "coalescing did not reduce partition count")
    // identical contents + provenance either way
    assert(coalesced.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSet ===
      plain.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSet)
  }

  test("ANALYZE TABLE statistics feed the optimizer's row and size estimates") {
    // Stats-driven planning is how a 100 TB warehouse avoids both
    // OOM-broadcasts and needless shuffles: without ANALYZE the
    // optimizer only knows file sizes; with table + column stats it
    // knows row counts, and with CBO enabled it can estimate how a
    // selective filter shrinks them.
    spark.sql("DROP TABLE IF EXISTS g_orders_stats")
    Tables.orders(spark, sfDir).write.saveAsTable("g_orders_stats")
    val expected = spark.table("g_orders_stats").count()

    withCbo {
      // before ANALYZE even CBO has no row count, only file sizes
      assert(spark.table("g_orders_stats")
        .queryExecution.optimizedPlan.stats.rowCount.isEmpty)

      spark.sql(
        "ANALYZE TABLE g_orders_stats COMPUTE STATISTICS FOR ALL COLUMNS")
      val full =
        spark.table("g_orders_stats").queryExecution.optimizedPlan.stats
      assert(full.rowCount.contains(BigInt(expected)),
        s"ANALYZE row count ${full.rowCount} != $expected")

      // column stats let a selective filter shrink the estimate
      val filtered = spark.table("g_orders_stats")
        .filter($"o_orderstatus" === "F")
        .queryExecution.optimizedPlan.stats
      assert(filtered.rowCount.isDefined
        && filtered.rowCount.get < full.rowCount.get,
        s"CBO did not shrink the filtered estimate: $filtered vs $full")
    }
  }

  private def withCbo[A](f: => A): A = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try f finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("linedir write→read round-trip is lossless under random partitionings") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 1 + rnd.nextInt(500)
      val parts = 1 + rnd.nextInt(7)
      val lines = Seq.fill(n)(
        rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
      val dir = Files.createTempDirectory(s"graft-linedir-rt$trial").toString
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
        .repartition(parts).toDF("value")
        .write.format("linedir").mode("overwrite").save(dir)
      val back = spark.read.format("linedir").load(dir)
        .select(col("value")).collect().map(_.getString(0))
      assert(back.sorted.toSeq === lines.sorted,
        s"trial $trial lost or mutated lines (n=$n parts=$parts)")
      assert(LineDir.listSorted(dir).size === parts,
        s"trial $trial wrong part-file count")
    }
  }

  test("linedir offset json parses strictly: only the {\"batch\":N} shape") {
    assert(LineDirOffset.fromJson("""{"batch":7}""").batchId === 7L)
    assert(LineDirOffset.fromJson(""" { "batch" : -1 } """).batchId === -1L)
    // a legacy file-list offset or corrupt json must fail loudly, not
    // silently parse an embedded integer into a bogus batch id
    for (bad <- Seq("""["f01.txt"]""", """{"batch":}""", "42",
        """{"batches":3}""", """{"batch":3,"x":1}""", "")) {
      intercept[IllegalArgumentException](LineDirOffset.fromJson(bad))
    }
  }

  test("linedir reads a Spark-written text dir as exactly its lines: " +
    "_SUCCESS and .crc sidecars are not data") {
    val dir = Files.createTempDirectory("graft-linedir-meta").resolve("t")
    val lines = (1 to 20).map(i => s"row $i")
    lines.toDF("value").repartition(3).write.text(dir.toString)
    val all = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val parts = all.filter(_.startsWith("part-"))
    // the writer left its metadata next to the parts
    assert(all.contains("_SUCCESS") &&
      all.exists(n => n.startsWith(".part-") && n.endsWith(".crc")), all)

    val df = spark.read.format("linedir").load(dir.toString)
    assert(df.select($"value").collect().map(_.getString(0)).sorted.toSeq ===
      lines.sorted)
    assert(df.rdd.getNumPartitions === parts.size)
    assert(df.select($"file").distinct().collect().map(_.getString(0))
      .sorted.toSeq === parts)
    assert(LineDir.listSortedWithAttrs(dir.toString).map(_._1) === parts)
  }

  test("listSortedWithAttrs: one-stat listing matches names, sizes, order") {
    val dir = Files.createTempDirectory("graft-attrs")
    Files.write(dir.resolve("b.txt"), "xyz\n".getBytes)
    Files.write(dir.resolve("a.txt"), "pq\n".getBytes)
    Files.createDirectory(dir.resolve("subdir")) // dirs are skipped
    val got = LineDir.listSortedWithAttrs(dir.toString)
    assert(got.map(_._1) === Seq("a.txt", "b.txt"))
    assert(got.map(_._2) === Seq(3L, 4L))
    assert(got.forall(_._3 > 0L), "mtimes must be carried")
    assert(got.map(_._1) === LineDir.listSorted(dir.toString))
  }
}
