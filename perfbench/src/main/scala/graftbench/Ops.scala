package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One timed call into the program. `wallS` = `buildS` + `resultS`:
  * `buildS` is the call itself (for a query, everything its function does
  * before returning the DataFrame) and `resultS` is collecting the
  * returned DataFrame's rows. */
final case class OpRecord(id: Long, name: String, layer: String, phase: String,
    pass: Int, startMs: Double, wallS: Double, buildS: Double, resultS: Double,
    rows: Long, ok: Boolean, error: String, extra: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "layer" -> layer,
    "phase" -> phase, "pass" -> pass, "start_ms" -> startMs, "wall_s" -> wallS,
    "build_s" -> buildS, "result_s" -> resultS, "rows" -> rows, "ok" -> ok,
    "error" -> error) ++ extra
}

/** Runs ops one after another (a single closed-loop client), each under
  * the [[Tracer.OpProperty]] local property, and keeps their records. */
final class OpRunner(spark: SparkSession) {
  var tracer: Option[Tracer] = None
  var phase: String = "warm"
  val records = mutable.ArrayBuffer.empty[OpRecord]
  private var nextId = 0L

  /** Runs `call`; a returned DataFrame is collected as the op's result.
    * Returns the record and, on success, the collected rows with their
    * schema (when the call returned a DataFrame) or the call's value. */
  def run(name: String, layer: String, pass: Int)(call: => Any): (OpRecord, Any) = {
    nextId += 1
    val id = nextId
    val sc = spark.sparkContext
    tracer.foreach(_.begin(id))
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    var t1 = t0
    var out: Any = null
    var rows = 0L
    var error = ""
    try {
      val v = call
      t1 = System.nanoTime()
      out = v match {
        case ds: org.apache.spark.sql.Dataset[_] =>
          val df = ds.toDF()
          val collected = df.collect()
          rows = collected.length
          (collected, df.schema)
        case other => other
      }
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t2 = System.nanoTime()
    sc.setLocalProperty(Tracer.OpProperty, null)
    tracer.foreach(_.end())
    val rec = OpRecord(id, name, layer, phase, pass, startMs, (t2 - t0) / 1e9,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, error.isEmpty, error)
    records += rec
    (rec, out)
  }

  def fail(rec: OpRecord, why: String): Unit = {
    val i = records.lastIndexWhere(_.id == rec.id)
    records(i) = records(i).copy(ok = false, error = why)
  }

  def annotate(rec: OpRecord, extra: Map[String, Any]): Unit = {
    val i = records.lastIndexWhere(_.id == rec.id)
    records(i) = records(i).copy(extra = records(i).extra ++ extra)
  }
}

/** Order-insensitive digest of a result: row count plus a sum of row hashes.
  * Doubles enter rounded to 1e-4 so that re-running identical code on the
  * same inputs gives the same digest. */
object Fingerprint {
  def of(rows: Array[Row]): (Long, Long) = {
    var sum = 0L
    rows.foreach(r => sum += scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong * 0x9E3779B97F4A7C15L)
    (rows.length.toLong, sum)
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => roundKey(d)
    case f: Float => roundKey(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  private def roundKey(d: Double): String =
    if (d.isNaN || d.isInfinite || math.abs(d) >= 1e14) d.toString
    else math.round(d * 1e4).toString
}

/** Writes a collected result as parquet for the DuckDB compare, the way the
  * program's Verify main dumps results: timestamps cast to NTZ so both
  * sides read back naive micros. */
object GateDump {
  def write(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit = {
    def toNtz(dt: DataType): DataType = dt match {
      case TimestampType => TimestampNTZType
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = toNtz(f.dataType))))
      case a: ArrayType => a.copy(elementType = toNtz(a.elementType))
      case m: MapType => m.copy(keyType = toNtz(m.keyType), valueType = toNtz(m.valueType))
      case other => other
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val ntz = schema.fields.foldLeft(df) { (d, f) =>
      val t = toNtz(f.dataType)
      if (t == f.dataType) d else d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name).cast(t))
    }
    ntz.coalesce(1).write.mode("overwrite").parquet(path)
  }
}
