package graft.operators.split

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partition-range split planner — the reference's signature operator
  * (SURVEY.md §2.9; semantics from /root/reference/database/dbms/reader/
  * split.go:151-201,361-391 re-expressed, not ported: equal-width BigInt
  * slices with the remainder spread over the first slices, slice count
  * shrinking to the domain gap when gap < n, predicates `k >= lo and
  * k < hi` with the last slice closed `<= hi`).
  *
  * In Spark this is the planning half of parallel ingest: for JDBC-style
  * sources the predicates feed `spark.read.jdbc(url, table, predicates,
  * props)`; for file sources Spark splits natively and this planner instead
  * drives explicit co-partitioned unions (see splitScan). Key domains
  * beyond integers are normalized to BigInt exactly as the reference does:
  * strings via a base-128 ASCII positional codec, timestamps by
  * configurable accuracy unit.
  */
object RangeSplitter {

  /** One half-open slice [lo, hi); `closed` marks the final slice which is
    * closed [lo, hi] so the union covers the full domain. */
  final case class Slice(lo: BigInt, hi: BigInt, closed: Boolean)

  /** Equal-width split of [min, max] into at most n slices; remainder r is
    * spread one-per-slice over the first r slices; degenerates to
    * gap-width slices when max-min+1 < n. n <= 0 or min > max -> empty. */
  def split(min: BigInt, max: BigInt, n: Int): Seq[Slice] = {
    if (n <= 0 || min > max) return Seq.empty
    val gap = max - min + 1
    val k = if (gap < n) gap.toInt else n
    val width = gap / k
    val rem = (gap % k).toInt
    var lo = min
    (0 until k).map { i =>
      val w = width + (if (i < rem) 1 else 0)
      val last = i == k - 1
      // the final slice is closed [lo, max]; open slices end at lo + w
      val s = Slice(lo, if (last) max else lo + w, last)
      lo = lo + w
      s
    }
  }

  // ---- string <-> BigInt base-128 codec (ASCII keys) -------------------

  /** ASCII-only guard mirrors the reference (split.go:267-269): non-ASCII
    * bytes make the positional math ambiguous. */
  def string2BigInt(s: String): BigInt = {
    require(s.forall(_ < 128), s"non-ASCII split key: $s")
    s.foldLeft(BigInt(0))((acc, c) => acc * 128 + c.toInt)
  }

  def bigInt2String(b: BigInt): String = {
    require(b >= 0, "negative string-key ordinal")
    if (b == 0) return ""
    val sb = new StringBuilder
    var v = b
    while (v > 0) { sb.append(((v % 128).toInt).toChar); v = v / 128 }
    sb.reverse.toString
  }

  // ---- typed domains ----------------------------------------------------

  sealed trait KeyDomain {
    def toBig(v: Any): BigInt
    def fromBig(b: BigInt): Any
    def literal(b: BigInt): Column
  }

  case object LongDomain extends KeyDomain {
    def toBig(v: Any): BigInt = BigInt(v.toString)
    def fromBig(b: BigInt): Any = b.toLong
    def literal(b: BigInt): Column = lit(b.toLong)
  }

  case object StringDomain extends KeyDomain {
    def toBig(v: Any): BigInt = string2BigInt(v.toString)
    def fromBig(b: BigInt): Any = bigInt2String(b)
    def literal(b: BigInt): Column = lit(bigInt2String(b))
  }

  // FLOOR division: BigInt `/` truncates toward zero, which for
  // pre-epoch (negative) keys would quantize the min upward and let the
  // first slice exclude the true minimum rows.
  private def floorDivBig(v: BigInt, unit: Long): BigInt = {
    val q = v / unit
    if (v.signum < 0 && q * unit != v) q - 1 else q
  }

  /** Timestamp keys normalized by accuracy unit (reference
    * split.go:312-327: day/min/s/ms/us/ns), here over epoch micros. */
  final case class TimeDomain(unitMicros: Long) extends KeyDomain {
    def toBig(v: Any): BigInt = floorDivBig(BigInt(v.toString), unitMicros)
    def fromBig(b: BigInt): Any = b.toLong * unitMicros
    def literal(b: BigInt): Column =
      timestamp_micros(lit(b.toLong * unitMicros))
  }

  /** Accuracy units in NANOS — the full reference matrix incl. the
    * sub-microsecond "ns" tier (split.go:312-327) that a µs-based domain
    * cannot express. */
  val AccuracyNanos: Map[String, Long] = Map(
    "day" -> 86400L * 1000000000L,
    "min" -> 60L * 1000000000L,
    "s" -> 1000000000L,
    "ms" -> 1000000L,
    "us" -> 1000L,
    "ns" -> 1L)

  /** Range predicates for the slices: `key >= lo AND key < hi`, last slice
    * `<= hi` — composable with a user WHERE exactly like the reference
    * (`(user) and (split)`, reader/job.go:179-181). */
  def predicates(key: Column, slices: Seq[Slice], dom: KeyDomain)
      : Seq[Column] =
    slices.map { s =>
      val upper =
        if (s.closed) key <= dom.literal(s.hi) else key < dom.literal(s.hi)
      key >= dom.literal(s.lo) && upper
    }

  /** SQL-text predicates (for JDBC `predicates: Array[String]` hand-off). */
  def predicateSql(key: String, slices: Seq[Slice], quote: BigInt => String)
      : Seq[String] =
    slices.map { s =>
      val op = if (s.closed) "<=" else "<"
      s"$key >= ${quote(s.lo)} and $key $op ${quote(s.hi)}"
    }

  /** Plan + execute a split scan over a long key: min/max via one agg
    * (the reference's A1/A2 fetchMin/fetchMax), then a union of n
    * predicate-filtered scans. Functionally identical to the plain scan —
    * the point is the partitioned-ingest plan shape (and the driver's
    * oracle checks exactly that). */
  def splitScan(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val Array(mn, mx) = df.agg(min(col(keyCol)), max(col(keyCol)))
      .collect()(0).toSeq.toArray
    if (mn == null) return df
    val slices =
      split(BigInt(mn.toString), BigInt(mx.toString), n)
    predicates(col(keyCol), slices, LongDomain)
      .map(p => df.filter(p))
      .reduce(_ unionAll _)
  }

  /** Split scan over an ASCII STRING key (X2 string domain): bounds via
    * min/max, base-128 positional codec to BigInt, equal-width slices,
    * string-literal range predicates. Slice boundaries are only a true
    * partition when base-128 order agrees with lexicographic order —
    * i.e. equal-length keys, the reference codec's effective constraint
    * (split.go:263-287; RangeSplitterSpec property). Mixed-length key
    * domains should split on a length-normalized surrogate instead. */
  def splitScanString(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val Array(mn, mx) = df.agg(min(col(keyCol)), max(col(keyCol)))
      .collect()(0).toSeq.toArray
    if (mn == null) return df
    val slices =
      split(string2BigInt(mn.toString), string2BigInt(mx.toString), n)
    slices.map { s =>
      val upper =
        if (s.closed) col(keyCol) <= lit(mx.toString)
        else col(keyCol) < lit(bigInt2String(s.hi))
      df.filter(col(keyCol) >= lit(bigInt2String(s.lo)) && upper)
    }.reduce(_ unionAll _)
  }

  /** Split scan over an epoch-NANOS long key (the TIMESTAMP(NANOS)
    * parquet shape read under nanosAsLong — e.g. events.ts) at any
    * accuracy tier of [[AccuracyNanos]], including exact "ns": the key is
    * quantized by floor division in BigInt, slices planned on quantized
    * units, and predicates compare the RAW nanos longs so the union is
    * bit-exact to the plain scan even with sub-microsecond components. */
  def splitScanNanos(df: DataFrame, keyCol: String, n: Int,
      accuracy: String = "ns"): DataFrame = {
    val unit = AccuracyNanos.getOrElse(accuracy,
      throw new IllegalArgumentException(
        s"unknown time accuracy '$accuracy' " +
          s"(expected ${AccuracyNanos.keys.mkString("|")})"))
    val Array(mn, mx) = df.agg(min(col(keyCol)), max(col(keyCol)))
      .collect()(0).toSeq.toArray
    if (mn == null) return df
    val slices = split(floorDivBig(BigInt(mn.toString), unit),
      floorDivBig(BigInt(mx.toString), unit), n)
    slices.map { s =>
      // final closed bound uses the TRUE max (floor(max)*unit would drop
      // rows with intra-unit components)
      val upper =
        if (s.closed) col(keyCol) <= lit(mx.toString.toLong)
        else col(keyCol) < lit((s.hi * unit).toLong)
      df.filter(col(keyCol) >= lit((s.lo * unit).toLong) && upper)
    }.reduce(_ unionAll _)
  }

  /** Split scan over a TIMESTAMP key at the given accuracy unit (X2 time
    * domain, default day — reference split.go:312-327). The domain is
    * quantized by floor division, so the final closed bound uses the TRUE
    * max timestamp: `floor(max)*unit` would silently drop rows with
    * intra-unit components. */
  def splitScanTime(df: DataFrame, keyCol: String, n: Int,
      unitMicros: Long = 86400000000L): DataFrame = {
    // keys may be TIMESTAMP or TIMESTAMP_NTZ depending on the parquet
    // writer; compare in the column's own type (UTC session makes the
    // tz<->ntz casts identity)
    val keyType = df.schema(keyCol).dataType
    val asMicros = (c: Column) => unix_micros(c.cast("timestamp"))
    val asKey = (b: BigInt) =>
      timestamp_micros(lit(b.toLong)).cast(keyType)
    val Array(mn, mx) = df
      .agg(min(asMicros(col(keyCol))), max(asMicros(col(keyCol))))
      .collect()(0).toSeq.toArray
    if (mn == null) return df
    val dom = TimeDomain(unitMicros)
    val slices = split(dom.toBig(mn), dom.toBig(mx), n)
    slices.map { s =>
      val upper =
        if (s.closed) col(keyCol) <= asKey(BigInt(mx.toString))
        else col(keyCol) < asKey(s.hi * unitMicros)
      df.filter(col(keyCol) >= asKey(s.lo * unitMicros) && upper)
    }.reduce(_ unionAll _)
  }
}
