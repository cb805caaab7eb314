package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Reference results (row count and order-insensitive hash) per
  * operation, for one data set. */
final class Refs(entries: Map[String, Digest.Value]) {
  private val live = mutable.Map.empty[String, Digest.Value] ++ entries

  /** None when `v` matches the reference, else why not. */
  def check(op: String, v: Digest.Value): Option[String] = live.get(op) match {
    case None => Some(s"no reference value for $op")
    case Some(r) if r == v => None
    case Some(r) => Some(s"expected $r, got $v")
  }

  /** Perturb one reference value (the smoke test's failure injection). */
  def corrupt(op: String): Unit =
    live.get(op).foreach(r => live(op) = r.copy(hash = r.hash + 1))
}

object Refs {
  def load(path: String, dataset: String): Refs = {
    val f = new File(path)
    if (!f.exists()) return new Refs(Map.empty)
    val root = new ObjectMapper().readTree(f).path(dataset)
    val m = root.fields().asScala.map { e =>
      e.getKey -> Digest.Value(e.getValue.path("rows").asLong(), BigDecimal(e.getValue.path("hash").asText()))
    }.toMap
    new Refs(m)
  }
}

/** The service and input directories a dedup_maintain pass measures. */
object Dirs {
  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The 90th percentile when there are at least 100 samples, else the
    * highest percentile with ten samples beyond it (nearest rank); with
    * ten samples or fewer there is none, and the maximum is reported as
    * percentile 100. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0)
    else if (n >= 100) { val k = math.ceil(0.9 * n).toInt; (90.0, s(k - 1)) }
    else if (n > 10) (math.floor(100.0 * (n - 10) / n), s(n - 11))
    else (100.0, s(n - 1))
  }

  /** The driver JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) return 0.0
    Files.readAllLines(status.toPath, StandardCharsets.UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
  }
}

/** A flat JSON object writer for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", " ") + "\""
  def str(k: String, v: String): Json = { fields += s"${q(k)}:${q(v)}"; this }
  def num(k: String, v: Double): Json = {
    val lit = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    fields += s"${q(k)}:$lit"; this
  }
  def obj(k: String, v: Json): Json = { fields += s"${q(k)}:${v.render}"; this }
  def metric(k: String, v: Double, unit: String): Json = obj(k, new Json().num("value", v).str("unit", unit))
  def strs(k: String, vs: Seq[String]): Json = { fields += s"${q(k)}:${vs.map(q).mkString("[", ",", "]")}"; this }
  def render: String = fields.mkString("{", ",", "}")
}
