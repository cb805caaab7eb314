package graft.functions

/** Spark's double semantics, for driver replays that must reproduce a
  * distributed plan bit for bit. Each helper is the exact fold of the
  * expression it stands in for; SparkSemanticsSpec pins every one against
  * Spark's own evaluation on adversarial inputs (decimal ties, NaN, ±0.0,
  * subnormals, ±Inf, ragged arrays). */
object SparkSemantics {

  /** Spark's `round(x, d)` on DOUBLE: HALF_UP on the shortest decimal form
    * (`BigDecimal.valueOf`), not on the binary `x * 10^d` product — so
    * 2.5e-6 rounds to 3e-6. NaN and ±Inf pass through. */
  def round(x: Double, d: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(d, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's nan-safe double ordering (sorts, window orders, struct max):
    * NaN equals NaN and sorts greatest; -0.0 equals 0.0. */
  def compare(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0
    else if (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y)) 0
    else if (java.lang.Double.isNaN(x)) 1 else -1

  /** Spark's `xxhash64` of one BIGINT value under `seed` (the function's
    * default seed is 42): the 8-byte word path of catalyst's XXH64. */
  def xxhash64Long(x: Long, seed: Long = 42L): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(x, seed)

  /** [[DotProduct]]'s fold: left to right over the common prefix. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** [[CosineSimilarity]]'s fused fold: dot / (sqrt(na) · sqrt(nb)) over
    * the common prefix. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
