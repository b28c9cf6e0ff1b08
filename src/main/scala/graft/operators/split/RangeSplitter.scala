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

  // FLOOR division: BigInt `/` truncates toward zero, which for
  // pre-epoch (negative) keys would quantize the min upward and let the
  // first slice exclude the true minimum rows.
  private def floorDivBig(v: BigInt, unit: Long): BigInt = {
    val q = v / unit
    if (v.signum < 0 && q * unit != v) q - 1 else q
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

  /** SQL-text predicates (for JDBC `predicates: Array[String]` hand-off). */
  def predicateSql(key: String, slices: Seq[Slice], quote: BigInt => String)
      : Seq[String] =
    slices.map { s =>
      val op = if (s.closed) "<=" else "<"
      s"$key >= ${quote(s.lo)} and $key $op ${quote(s.hi)}"
    }

  /** A split key's domain: `measure` is what min/max aggregate over,
    * `ordinal` maps an aggregated value onto the BigInt line, `unit`
    * quantizes that line by floor division before slicing (1 = exact),
    * and `literal` is the key-typed literal at a point of the line.
    * `literal(ordinal(v))` must be `v` itself, so the last slice closes
    * at the true max (the string codec holds this for keys without a
    * leading NUL, the same keys whose min it can represent). */
  private final case class KeyDomain(ordinal: Any => BigInt,
      literal: BigInt => Column, unit: Long = 1L,
      measure: Column => Column = identity)

  /** The split scan every key domain shares: min/max via one agg (the
    * reference's A1/A2 fetchMin/fetchMax), equal-width slices over the
    * quantized domain, then a union of predicate-filtered scans
    * (`key >= lo and key < hi`). The last slice is closed at the TRUE
    * max: `floor(max)*unit` would drop rows with intra-unit components.
    * Functionally identical to the plain scan — the point is the
    * partitioned-ingest plan shape (and the driver's oracle checks
    * exactly that). An all-null (or empty) key returns `df`. */
  private def splitOver(df: DataFrame, keyCol: String, n: Int,
      dom: KeyDomain): DataFrame = {
    val key = col(keyCol)
    val Array(mn, mx) = df.agg(min(dom.measure(key)), max(dom.measure(key)))
      .collect()(0).toSeq.toArray
    if (mn == null) return df
    val top = dom.ordinal(mx)
    split(floorDivBig(dom.ordinal(mn), dom.unit), floorDivBig(top, dom.unit),
        n).map { s =>
      val upper =
        if (s.closed) key <= dom.literal(top)
        else key < dom.literal(s.hi * dom.unit)
      df.filter(key >= dom.literal(s.lo * dom.unit) && upper)
    }.reduce(_ unionAll _)
  }

  /** Split scan over a long (or any integral) key. */
  def splitScan(df: DataFrame, keyCol: String, n: Int): DataFrame =
    splitOver(df, keyCol, n,
      KeyDomain(v => BigInt(v.toString), b => lit(b.toLong)))

  /** Split scan over an ASCII STRING key (X2 string domain): base-128
    * positional codec to BigInt, string-literal range predicates. Slice
    * boundaries are only a true partition when base-128 order agrees
    * with lexicographic order — i.e. equal-length keys, the reference
    * codec's effective constraint (split.go:263-287; RangeSplitterSpec
    * property). Mixed-length key domains should split on a
    * length-normalized surrogate instead. */
  def splitScanString(df: DataFrame, keyCol: String, n: Int): DataFrame =
    splitOver(df, keyCol, n, KeyDomain(v => string2BigInt(v.toString),
      b => lit(bigInt2String(b))))

  /** Split scan over an epoch-NANOS long key (the TIMESTAMP(NANOS)
    * parquet shape read under nanosAsLong — e.g. events.ts) at any
    * accuracy tier of [[AccuracyNanos]], including exact "ns": slices
    * are planned on quantized units and predicates compare the RAW
    * nanos longs, so the union is bit-exact to the plain scan even with
    * sub-microsecond components. */
  def splitScanNanos(df: DataFrame, keyCol: String, n: Int,
      accuracy: String = "ns"): DataFrame = {
    val unit = AccuracyNanos.getOrElse(accuracy,
      throw new IllegalArgumentException(
        s"unknown time accuracy '$accuracy' " +
          s"(expected ${AccuracyNanos.keys.mkString("|")})"))
    splitOver(df, keyCol, n,
      KeyDomain(v => BigInt(v.toString), b => lit(b.toLong), unit))
  }

  /** Split scan over a TIMESTAMP key at the given accuracy unit (X2 time
    * domain, default day — reference split.go:312-327), over epoch
    * micros. Keys may be TIMESTAMP or TIMESTAMP_NTZ depending on the
    * parquet writer; literals compare in the column's own type (UTC
    * session makes the tz<->ntz casts identity). */
  def splitScanTime(df: DataFrame, keyCol: String, n: Int,
      unitMicros: Long = 86400000000L): DataFrame = {
    val keyType = df.schema(keyCol).dataType
    splitOver(df, keyCol, n, KeyDomain(v => BigInt(v.toString),
      b => timestamp_micros(lit(b.toLong)).cast(keyType), unitMicros,
      c => unix_micros(c.cast("timestamp"))))
  }
}
