package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Catalog-wide signed-zero audit — the r9 lesson institutionalized: the
  * driver's correctness gate hashes DOUBLE BIT PATTERNS, and `-0.0` vs
  * `+0.0` (numerically equal, pandas-equal, == -equal) flipped q163's
  * hash because Spark's BigDecimal round normalizes the sign while
  * DuckDB's round preserves it. Every query in the catalog must emit
  * canonical `+0.0` only — enforced here by running ALL of them at
  * sf0.001 and scanning every double cell (top-level, nested in
  * structs, and inside arrays) for the `-0.0` bit pattern.
  *
  * The oracle leg has the mirror discipline (`+ 0` after every
  * negative-capable rounded readout in the SQL strings) plus
  * tools/negzero_scan.py, which runs every oracle query in DuckDB and
  * does this same scan on that side.
  */
class NegZeroSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val NegZeroBits = java.lang.Double.doubleToRawLongBits(-0.0d)

  /** Count -0.0 bit patterns anywhere in a value (recurses structs,
    * arrays, maps, float→double promoted). */
  private def negZeros(v: Any): Long = v match {
    case null => 0L
    case d: java.lang.Double =>
      if (java.lang.Double.doubleToRawLongBits(d) == NegZeroBits) 1L else 0L
    case f: java.lang.Float =>
      if (java.lang.Float.floatToRawIntBits(f) == Integer.MIN_VALUE) 1L else 0L
    case r: Row => r.toSeq.map(negZeros).sum
    case s: scala.collection.Seq[_] => s.map(negZeros).sum
    case m: scala.collection.Map[_, _] => m.valuesIterator.map(negZeros).sum
    case _ => 0L
  }

  private def hasFloaty(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case s: StructType => s.fields.exists(f => hasFloaty(f.dataType))
    case a: ArrayType => hasFloaty(a.elementType)
    case m: MapType => hasFloaty(m.keyType) || hasFloaty(m.valueType)
    case _ => false
  }

  test("no catalog query emits a -0.0 bit pattern in any double cell") {
    // overlap independent read-only queries from a small driver pool
    // (guide §2.6): 300 sequential runs made this the slowest test in
    // the suite (175 s) with the session mostly idle between jobs. Each
    // query is one Materialize scope, so it frees its own blocks when it
    // ends, whatever the other queries in flight are doing.
    val offenders = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val tasks = QueryCatalog.entries.map { case (name, fn, _) =>
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = Materialize.scoped(spark.sparkContext) {
            val df = fn(spark, sf)
            if (df.schema.fields.exists(f => hasFloaty(f.dataType))) {
              // sf0.001 catalog outputs are verify-sized; collect is fine
              val n = df.collect().iterator.map(r => negZeros(r)).sum
              if (n > 0) offenders.add(s"$name ($n cells)")
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get()) // rethrow failures
    } finally pool.shutdown()
    assert(offenders.isEmpty, {
      import scala.jdk.CollectionConverters._
      s"-0.0 bit patterns found in: ${offenders.asScala.mkString(", ")}"
    })
  }
}
