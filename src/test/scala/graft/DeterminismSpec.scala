package graft

/** Partition-invariance guard: the determinism contract (SURVEY.md §5)
  * promises the same rows for ANY shuffle parallelism. This sweep runs
  * EVERY query under two shuffle widths (3 and 13 — both different from
  * the suite default, coprime, and small enough to force different
  * physical groupings) and requires identical row multisets. Values are
  * compared sorted: several queries ORDER BY non-unique keys, where row
  * order among ties is legitimately planner-dependent — the contract is
  * about the VALUES, and the driver's oracle compare also sorts.
  *
  * This is the sweep that catches the classic silent killers:
  * first()/head-of-group without an explicit order, float reduction
  * order leaking into output, partition-id-derived values, sampling
  * that isn't hash-based. */
class DeterminismSpec extends SparkSpec {

  SparkEntry.allQ.foreach { q =>
    test(s"${q.name} is identical under 3-way and 13-way shuffles") {
      def run(parts: Int): Seq[String] =
        withConf("spark.sql.shuffle.partitions" -> parts.toString) {
          q.fn(spark, TinyDir).collect().map(_.toString).sorted.toSeq
        }
      assert(run(3) == run(13), s"${q.name} output depends on shuffle width")
    }
  }
}
