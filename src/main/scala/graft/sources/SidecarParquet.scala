package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** DRIVER-SIDE reader for KB-scale parquet sidecars (r20 optimization
  * round, guide §5 — the driver does bounded work, never a job for it):
  * model sidecars (IVF centroids, PQ codebooks, OPQ rotations) and store
  * ledgers (`_folded`) are written `coalesce(1)` and are KBs BY
  * CONSTRUCTION — model-scale, bounded by |charset|/k/m·ksub, never by
  * corpus size — yet every maintenance op and every serve-path read
  * previously loaded them through a spark.read-then-collect:
  * one full Spark job (scheduler round-trip, task launch, shuffle-free
  * but ~100–200 ms of pure overhead at any scale) per sidecar per op.
  * Reading the same bytes with parquet-hadoop's example reader on the
  * driver is the same I/O with zero jobs — the byte-copy discipline
  * ([[graft.operators.VectorStores]]'s `copySidecarFiles`) applied to the read
  * side.
  *
  * Scale posture: callers must only point this at MODEL-scale artifacts
  * (the same bound as a broadcast build side). Data-scale stores (codes,
  * postings, patches, sketch blobs) keep their distributed reads.
  *
  * Type tolerance mirrors the `.cast(...)` the Spark readers applied:
  * INT32/INT64 read as Long, FLOAT/DOUBLE read as Float/Double via the
  * JVM primitive conversion (what Spark's Cast emits for these pairs),
  * BINARY(UTF8) as String. Arrays use Spark's standard 3-level list
  * encoding (`field (LIST) { repeated group list { element } }`).
  */
object SidecarParquet {

  /** Every row of every visible data file under `dir`, file order by
    * name (deterministic; sidecars are single-file by construction).
    */
  def readGroups(dir: String, hconf: Configuration): Seq[Group] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    val files = fs.listStatus(p).filter(_.isFile).map(_.getPath)
      .filter { q =>
        val n = q.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }
      .sortBy(_.getName)
    val out = scala.collection.mutable.ArrayBuffer.empty[Group]
    files.foreach { f =>
      val reader: ParquetReader[Group] = ParquetReader
        .builder(new GroupReadSupport(), f)
        .withConf(hconf)
        .build()
      try {
        var g = reader.read()
        while (g != null) { out += g; g = reader.read() }
      } finally reader.close()
    }
    out.toSeq
  }

  private def primitiveName(g: Group, field: String): PrimitiveTypeName =
    g.getType.getType(field).asPrimitiveType().getPrimitiveTypeName

  /** Integral field as Long (INT32 or INT64 physical). */
  def longAt(g: Group, field: String): Long = primitiveName(g, field) match {
    case PrimitiveTypeName.INT64 => g.getLong(field, 0)
    case PrimitiveTypeName.INT32 => g.getInteger(field, 0).toLong
    case other => throw new IllegalArgumentException(
      s"sidecar field '$field' has non-integral type $other")
  }

  /** Integral field as Int. */
  def intAt(g: Group, field: String): Int = longAt(g, field).toInt

  /** String field (BINARY/UTF8). */
  def stringAt(g: Group, field: String): String = g.getString(field, 0)

  /** DRIVER-SIDE write of a FLAT, driver-local sidecar (r20 — the read
    * side's twin): model markers, encoding tags, index stats, family
    * meta and compaction ledgers are a handful of rows of primitives
    * whose values already sit on the driver (Observation results, config
    * constants, merged ledger entries), yet each went through a
    * `Seq(...).toDF.coalesce(1).write` — one full Spark job per marker
    * per maintenance op. This writes the same rows with parquet-hadoop's
    * example writer: snappy parquet Spark reads identically (numeric
    * fields `required` like Scala primitives in toDF, strings
    * `optional`), committed like Spark's writer — the file materializes
    * under a dot-prefixed temp name (invisible to PathState and Spark
    * reads), renames into place, `_SUCCESS` last — so a torn write never
    * classifies as data.
    *
    * `fieldTypes`: "long" | "int" | "string" per field, values in field
    * order per row. `append = true` adds a uniquely-named part file and
    * leaves existing data; default replaces the directory (SaveMode
    * Overwrite).
    */
  def writeFlat(dir: String, hconf: Configuration,
      fields: Seq[(String, String)], rows: Seq[Seq[Any]],
      append: Boolean = false): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    val b = Types.buildMessage()
    fields.foreach {
      case (n, "long") => b.required(PrimitiveTypeName.INT64).named(n)
      case (n, "int") => b.required(PrimitiveTypeName.INT32).named(n)
      case (n, "string") => b.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(n)
      case (n, "floatarray") =>
        // Spark's standard 3-level list encoding for a non-null-element
        // float array (what `Seq[Float]` under toDF writes)
        b.addField(Types.optionalGroup()
          .as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(Types.required(PrimitiveTypeName.FLOAT).named("element"))
            .named("list"))
          .named(n))
      case (n, t) => throw new IllegalArgumentException(
        s"writeFlat: unsupported field type '$t' for '$n'")
    }
    val schema = b.named("spark_schema")
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(hconf)
    if (!append && fs.exists(dirP)) { fs.delete(dirP, true); () }
    fs.mkdirs(dirP)
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dirP, s".part-00000-$uuid.snappy.parquet.tmp")
    val fin = new Path(dirP, s"part-00000-$uuid.c000.snappy.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, hconf))
      .withConf(hconf)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(schema)
      rows.foreach { r =>
        val g = factory.newGroup()
        fields.zip(r).foreach {
          // Number-tolerant: Scala's numeric widening can box a
          // mixed-width Seq literal to the wide type — the declared
          // field type, not the box, decides the physical width
          case ((n, "long"), v) => g.add(n, v.asInstanceOf[Number].longValue)
          case ((n, "int"), v) => g.add(n, v.asInstanceOf[Number].intValue)
          case ((n, "string"), v) =>
            if (v != null) { g.add(n, v.asInstanceOf[String]); () }
          case ((n, "floatarray"), v) =>
            val lg = g.addGroup(n)
            val vals: Seq[Float] = v match {
              case a: Array[Float] => a.toSeq
              case s: Seq[_] => s.map(_.asInstanceOf[Number].floatValue)
              case other => throw new IllegalArgumentException(
                s"writeFlat: field '$n' expected a float array, got $other")
            }
            vals.foreach { f => lg.addGroup("list").add("element", f); () }
          case _ => ()
        }
        writer.write(g)
      }
    } finally writer.close()
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"writeFlat: rename $tmp -> $fin failed")
    val success = new Path(dirP, "_SUCCESS")
    fs.create(success, true).close()
  }

  /** Numeric array field as Array[Float] (FLOAT or DOUBLE elements —
    * DOUBLE narrows via the JVM conversion, same as Spark's
    * `cast("array<float>")`).
    */
  def floatArrayAt(g: Group, field: String): Array[Float] = {
    val list = g.getGroup(field, 0)
    val n = list.getFieldRepetitionCount(0)
    val elemType = list.getType.getType(0).asGroupType()
      .getType(0).asPrimitiveType().getPrimitiveTypeName
    val out = new Array[Float](n)
    var i = 0
    elemType match {
      case PrimitiveTypeName.FLOAT =>
        while (i < n) { out(i) = list.getGroup(0, i).getFloat(0, 0); i += 1 }
      case PrimitiveTypeName.DOUBLE =>
        while (i < n) { out(i) = list.getGroup(0, i).getDouble(0, 0).toFloat; i += 1 }
      case other => throw new IllegalArgumentException(
        s"sidecar array field '$field' has non-float element type $other")
    }
    out
  }
}
