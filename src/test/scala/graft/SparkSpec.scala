package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture; sf0.001 keeps specs fast. The
  * session is the shipped one (`GraftSession.builder`: its confs and
  * GraftExtensions' rules, strategy and SQL functions), so every spec
  * tests what Verify and Bench run; only the core count and shuffle
  * width are test-sized. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val TinyDir = "/root/testdata/sf0.001"
  val SmallDir = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(getClass.getSimpleName)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    // belt to the test-classpath log4j2.properties' suspenders: the r14
    // driver test run died under INFO spam before the sbt summary printed
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set session confs for `body`, restoring previous values (set or
    * unset) afterwards — shared by every spec that toggles optimizer
    * behavior, so restore semantics live in exactly one place. */
  protected def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
