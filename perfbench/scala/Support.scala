package graftbench

import java.lang.management.ManagementFactory
import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive, type-canonical result digest. `digest.py` is the
  * same function over DuckDB values; both must stay in step.
  *
  * A value becomes a tagged string: `N` null, `b0`/`b1`, `i<int>` for
  * every integral width, `f<x>` for float and double (10 significant
  * digits, plain notation), `d<x>` for decimals, `s<utf8 bytes>:<text>`,
  * `t<epoch micros>` for timestamps read as UTC, `D<epoch day>`,
  * `x<hex>` for binary, `[..]` arrays, `{..}` structs (field order),
  * `<..>` maps (entries sorted). A row is `name=value` over its columns
  * sorted by name; the digest is the md5 of the sorted md5s of its rows. */
object Digest {
  private val ctx = new MathContext(10, RoundingMode.HALF_EVEN)

  private def dec(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.round(ctx).stripTrailingZeros.toPlainString

  def num(x: Double): String =
    if (x.isNaN) "nan"
    else if (x.isInfinite) (if (x > 0) "inf" else "-inf")
    else if (x == 0.0) "0"
    else dec(new java.math.BigDecimal(x))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => "f" + num(x.toDouble)
    case x: Double => "f" + num(x)
    case d: java.math.BigDecimal => "d" + dec(d)
    case d: scala.math.BigDecimal => "d" + dec(d.bigDecimal)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  /** Prints the canonical form of a fixed value set, one per line, for
    * the cross-language check in test_bench.py. */
  def main(args: Array[String]): Unit = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b STRING")
    Seq[Any](null, true, 42.toByte, (-7).toShort, 42, -7L, 0.1 + 0.2, -0.0,
      1.1f, 1e300, Double.NaN, Double.NegativeInfinity,
      new java.math.BigDecimal("12.3400"), "naïve ☃",
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00.123456Z")),
      java.time.LocalDateTime.parse("1969-12-31T23:59:59.5"),
      java.sql.Date.valueOf("2024-02-29"), Array[Byte](0, 15, -1),
      Seq(1, null, 3), new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](1, "x"), schema),
      Map("b" -> 1, "a" -> 2)).foreach(v => println(canon(v)))
  }

  def of(rows: Array[Row]): String = {
    val lines = rows.map { r =>
      val names = r.schema.fieldNames
      md5(names.indices.sortBy(names(_)).map(i => names(i) + "=" + canon(r.get(i))).mkString("|"))
    }
    md5(lines.sorted.mkString("\n"))
  }
}

/** Host record of the timed window, from `/proc/stat` over this process's
  * allowed CPUs: hypervisor steal, and busy time not spent by this JVM;
  * and from `/proc/self/stat` the JVM's own kernel time and page faults,
  * so a storm of heap faults is not taken for steal. */
object Host {
  final case class Stat(busyTicks: Long, stealTicks: Long, ownCpuNs: Long,
                        ownStimeTicks: Long, minflt: Long, majflt: Long, atMs: Long)

  private def allowed(): Set[Int] = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("Cpus_allowed_list:")).map(_.split(":")(1).trim).getOrElse("")
    line.split(",").filter(_.nonEmpty).flatMap { r =>
      r.split("-") match {
        case Array(a, b) => a.toInt to b.toInt
        case Array(a) => Seq(a.toInt)
      }
    }.toSet
  }
  private lazy val cpus = allowed()

  def read(): Stat = {
    var busy, steal = 0L
    val src = scala.io.Source.fromFile("/proc/stat")
    try for (l <- src.getLines() if l.startsWith("cpu") && l.length > 3 && l(3).isDigit) {
      val f = l.split("\\s+")
      if (cpus.isEmpty || cpus.contains(f(0).drop(3).toInt)) {
        val v = f.drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal
        busy += v(0) + v(1) + v(2) + v(5) + v(6)
        if (v.length > 7) steal += v(7)
      }
    } finally src.close()
    val own = ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }
    // fields after "(comm) ": state is 0, minflt 7, majflt 9, stime 12
    val self = {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      try src.mkString finally src.close()
    }
    val st = self.substring(self.lastIndexOf(')') + 2).trim.split("\\s+")
    Stat(busy, steal, own, st(12).toLong, st(7).toLong, st(9).toLong, System.currentTimeMillis())
  }

  def delta(a: Stat, b: Stat): Map[String, Any] = {
    val tickMs = 10L // USER_HZ = 100
    val busyMs = (b.busyTicks - a.busyTicks) * tickMs
    val ownMs = (b.ownCpuNs - a.ownCpuNs) / 1000000L
    Map("cpus" -> cpus.size, "window_ms" -> (b.atMs - a.atMs),
      "steal_ms" -> (b.stealTicks - a.stealTicks) * tickMs,
      "busy_ms" -> busyMs, "own_cpu_ms" -> ownMs,
      "own_stime_ms" -> (b.ownStimeTicks - a.ownStimeTicks) * tickMs,
      "minflt" -> (b.minflt - a.minflt), "majflt" -> (b.majflt - a.majflt),
      "foreign_cpu_ms" -> math.max(0L, busyMs - ownMs))
  }

  /** Heap in use after full collections, in MiB, once two readings in a
    * row agree within 1 MiB: Spark's ContextCleaner drops the blocks of
    * dead frames only after a collection has found them. */
  def retainedHeapMb(): Double = {
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var last = Double.MaxValue
    var cur = used()
    var i = 0
    while (i < 8 && math.abs(last - cur) > 1.0) {
      System.gc()
      Thread.sleep(200)
      last = cur
      cur = used()
      i += 1
    }
    cur
  }
}

/** Minimal JSON writer for the harness's record. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
