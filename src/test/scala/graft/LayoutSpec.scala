package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.operators.Layout

/** Z-order layout: key arithmetic (bit-exact vs a reference interleave),
  * grid scaling bounds, and the actual 100 TB claim — a z-ordered parquet
  * directory localizes BOTH dimensions per file, so a predicate on the
  * non-sort dimension touches few files, while a single-column range sort
  * spreads it across every file.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference interleave, independent spelling (per-bit loop over longs). */
  private def zRef(vals: Seq[Long], bits: Int): Long = {
    var out = 0L
    val n = vals.size
    for (b <- 0 until bits; i <- 0 until n)
      out |= (((vals(i) >> b) & 1L) << (b * n + i))
    out
  }

  test("zValue: known value and bit-exact equality with the reference interleave") {
    // x=3 (011), y=5 (101), 3 bits: positions x→{0,2,4}, y→{1,3,5}
    assert(zRef(Seq(3L, 5L), 3) === 39L)
    val df = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 3).as("z"))
    assert(df.head().getLong(0) === 39L)
  }

  test("zValue property: matches reference over random coords, 2 and 3 dims") {
    val coord = Gen.choose(0L, 255L)
    checkProp(Prop.forAll(Gen.listOfN(6, coord)) { vs =>
      val rows = vs.grouped(2).map { case List(a, b) => (a, b) }.toSeq
      val got = rows.toDF("x", "y")
        .select(Layout.zValue(Seq(col("x"), col("y")), 8).as("z"))
        .collect().map(_.getLong(0)).toSeq
      got == rows.map { case (a, b) => zRef(Seq(a, b), 8) }
    }, minTests = 10)
    val got3 = Seq((5L, 9L, 200L)).toDF("a", "b", "c")
      .select(Layout.zValue(Seq(col("a"), col("b"), col("c")), 8).as("z"))
      .head().getLong(0)
    assert(got3 === zRef(Seq(5L, 9L, 200L), 8))
  }

  test("gridCoord: endpoints hit 0 and 2^bits-1, monotone, integer-exact") {
    val df = (0L to 1000L by 50).toDF("v")
      .select(col("v"), Layout.gridCoord(col("v"), 0L, 1000L, 8).as("g"))
      .orderBy("v").collect()
    assert(df.head.getLong(1) === 0L)
    assert(df.last.getLong(1) === 255L)
    val gs = df.map(_.getLong(1))
    assert(gs.zip(gs.tail).forall { case (a, b) => a <= b })
    assert(gs.forall(g => g >= 0 && g <= 255))
  }

  test("writeZOrdered: schema unchanged, rows round-trip exactly") {
    val dir = Files.createTempDirectory("zl").toString + "/t"
    val df = (0 until 500).map(i => (i.toLong % 37, (i * 7L) % 53, s"p$i"))
      .toDF("x", "y", "payload")
    Layout.writeZOrdered(df, dir, Seq(col("x"), col("y")), bits = 6, numFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq === Seq("x", "y", "payload"))
    assert(back.count() === 500)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("z-order localizes both dims: y-predicate touches few files vs range-sort on x") {
    // 64×64 grid, one row per cell — the worst case for a single-column
    // sort (every x-file contains the full y range).
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("x"), (col("id") % 64).cast("long").as("y"))
    val nFiles = 16
    val zDir = Files.createTempDirectory("zord").toString + "/z"
    val xDir = Files.createTempDirectory("zlin").toString + "/x"
    Layout.writeZOrdered(grid, zDir, Seq(col("x"), col("y")), bits = 6, numFiles = nFiles)
    Layout.writeRangeSorted(grid, xDir, col("x"), numFiles = nFiles)

    def filesMatching(dir: String): Long =
      spark.read.parquet(dir).where(col("y") >= 8 && col("y") < 16)
        .select(input_file_name()).distinct().count()
    val zFiles = filesMatching(zDir)
    val xFiles = filesMatching(xDir)
    // x-sorted: every file spans all y → all 16 files contain matches.
    // z-ordered: a y-octave lives in a bounded set of z-ranges.
    assert(xFiles === nFiles.toLong)
    assert(zFiles <= nFiles / 2,
      s"z layout should bound y-spread per file (got $zFiles of $nFiles files)")

    // Bounding-box diagnostic: total y-width a min-max pruner would scan
    // is strictly smaller under z (x stays bounded too, by construction).
    val zB = Layout.fileBounds(spark.read.parquet(zDir), Seq("y"))
      .agg(sum(col("y_max") - col("y_min"))).head().getLong(0)
    val xB = Layout.fileBounds(spark.read.parquet(xDir), Seq("y"))
      .agg(sum(col("y_max") - col("y_min"))).head().getLong(0)
    assert(zB < xB, s"z total y-width $zB should beat range-sort $xB")
  }

  test("compactParquet: sizes output files from input bytes; rows survive exactly") {
    val in = Files.createTempDirectory("cmpin").toString + "/d"
    val out = Files.createTempDirectory("cmpout").toString + "/d"
    val df = (0 until 2000).map(i => (i.toLong, s"row-$i-${"x" * 50}")).toDF("id", "s")
    df.repartition(40).write.parquet(in) // 40 tiny files
    val inFiles = spark.read.parquet(in).select(input_file_name()).distinct().count()
    assert(inFiles === 40L)
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(in)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var b = 0L
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) b += f.getLen }
      b
    }
    val target = bytes / 4 // aim for ~4 files
    val n = graft.operators.Layout.compactParquet(spark, in, out, targetBytes = target)
    assert(n >= 4 && n <= 5, s"expected ~4 output files, chose $n")
    val outFiles = spark.read.parquet(out).select(input_file_name()).distinct().count()
    assert(outFiles === n.toLong)
    val back = spark.read.parquet(out)
    assert(back.count() === 2000L)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("recluster: append-degraded directory regains z-locality; rows survive") {
    val base = Files.createTempDirectory("recl").toString
    val in = base + "/in"
    val out = base + "/out"
    val grid = spark.range(32L * 32L)
      .select((col("id") / 32).cast("long").as("x"), (col("id") % 32).cast("long").as("y"))
    // simulate incremental appends: 4 unclustered batches land separately
    (0 until 4).foreach { b =>
      grid.where(col("x") % 4 === b).repartition(4)
        .write.mode("append").parquet(in)
    }
    val n = graft.operators.Layout.recluster(spark, in, out,
      Seq(col("x"), col("y")), bits = 5, targetBytes = 8L << 10)
    assert(n >= 1)
    val back = spark.read.parquet(out)
    assert(back.count() === 32L * 32L)
    // locality: total per-file y-spread shrinks vs the appended layout
    def spread(dir: String): Long =
      graft.operators.Layout.fileBounds(spark.read.parquet(dir), Seq("y"))
        .agg(sum(col("y_max") - col("y_min"))).head().getLong(0)
    assert(spread(out) < spread(in), s"${spread(out)} !< ${spread(in)}")
  }

  test("compactParquet / recluster: a crashed writer's _temporary orphan does not size the output") {
    val base = Files.createTempDirectory("orphan").toString
    val in = base + "/in"
    val df = (0 until 2000).map(i => (i.toLong, i % 32L, s"row-$i-${"x" * 50}"))
      .toDF("x", "y", "s")
    df.repartition(8).write.parquet(in)
    val files = new java.io.File(in).listFiles().filter(_.getName.endsWith(".parquet"))
    val target = files.map(_.length).sum / 2
    def chosen(tag: String): (Int, Int) =
      (Layout.compactParquet(spark, in, s"$base/c-$tag", targetBytes = target),
        Layout.recluster(spark, in, s"$base/z-$tag", Seq(col("x"), col("y")),
          bits = 5, targetBytes = target))
    val clean = chosen("clean")
    // ten times the visible bytes, left under the job's hidden staging dir
    val orphanDir = java.nio.file.Paths.get(in, "_temporary", "0", "_temporary",
      "attempt_0")
    Files.createDirectories(orphanDir)
    (0 until 10).foreach(i => files.foreach(f => Files.copy(f.toPath,
      orphanDir.resolve(s"part-$i-${f.getName}"))))
    assert(spark.read.parquet(in).count() === 2000L)
    assert(chosen("orphaned") == clean,
      "an orphan under _temporary changed the file count chosen")
  }

  test("writeWithBloomFilters: footer carries a working bloom on the keyed column only") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("blm").toString + "/t"
    // one output file so every written key is testable against ITS bloom
    val df = (1L to 5000L).map(i => (i, s"user-$i")).toDF("id", "key").coalesce(1)
    graft.operators.Layout.writeWithBloomFilters(df, dir, Seq("key"), ndv = 5000)
    assert(spark.read.parquet(dir).count() === 5000)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val file = p.getFileSystem(conf).listStatus(p)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val keyCol = cols.find(_.getPath.toDotString == "key").get
      val idCol = cols.find(_.getPath.toDotString == "id").get
      assert(keyCol.getBloomFilterOffset > 0, "bloom filter missing on keyed column")
      assert(idCol.getBloomFilterOffset <= 0, "bloom filter unexpectedly on id")
      val bf = reader.readBloomFilter(keyCol)
      assert(bf != null)
      // no false negatives: every written key must test present
      val present = (1 to 50).forall { i =>
        bf.findHash(bf.hash(org.apache.parquet.io.api.Binary.fromString(s"user-$i")))
      }
      assert(present)
      // absent keys mostly test absent (allow bloom false positives)
      val fp = (1 to 200).count { i =>
        bf.findHash(bf.hash(org.apache.parquet.io.api.Binary.fromString(s"nope-$i")))
      }
      assert(fp < 20, s"false-positive rate implausibly high: $fp/200")
    } finally reader.close()
  }

  test("gridCoordByQuantiles: skewed data spreads across cells where min-max collapses") {
    import spark.implicits._
    // zipf-ish: mass at small values plus one huge outlier stretching the range
    val vals = (Seq.fill(500)(1L) ++ Seq.fill(300)(2L) ++ Seq.fill(150)(5L) ++
      Seq.fill(49)(20L) :+ 1000000L)
    val df = vals.toDF("v")
    val linear = df.select(
      graft.operators.Layout.gridCoord(col("v"), 1L, 1000000L, 4).as("g"))
      .distinct().count()
    val byQ = df.select(
      graft.operators.Layout.gridCoordByQuantiles(df, "v", 4).as("g"))
    val qCells = byQ.distinct().count()
    assert(linear <= 2, s"min-max grid should collapse on skew (got $linear cells)")
    assert(qCells >= 3, s"quantile grid should spread mass (got $qCells cells)")
    val range = byQ.agg(min("g"), max("g")).head()
    assert(range.getLong(0) >= 0 && range.getLong(1) <= 15)
  }

  test("zValue/gridCoord argument validation fails fast") {
    intercept[IllegalArgumentException](Layout.zValue(Nil, 8))
    intercept[IllegalArgumentException](Layout.zValue(Seq(col("x")), 64))
    intercept[IllegalArgumentException](Layout.gridCoord(col("x"), 5L, 5L, 8))
  }
}
