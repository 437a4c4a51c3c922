package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.catalyst.{expressions => E}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{JArray, JBool, JDecimal, JDouble, JInt, JObject, JString, JValue}

/** Per-file column statistics for manifest data-skipping — the Delta/
  * Iceberg move that makes selective queries on a 100 TB table plan in
  * file-count-proportional-to-selectivity time: min/max/nullCount per
  * eligible top-level column, harvested from parquet FOOTERS (metadata-only
  * reads, never data), stored in the commit marker next to the file name,
  * and evaluated against pushed filters at scan PLANNING time so non-
  * matching files never become input splits at all. Parquet's own row-group
  * skipping still applies inside surviving files; this layer removes whole
  * files before any task launches or any footer is opened at read time.
  *
  * Values are BOUNDS, not exact extremes: `min` is a valid lower bound and
  * `max` a valid upper bound for the column's non-null values in the file
  * (parquet footer statistics already promise exactly this, and string
  * truncation preserves it — a truncated long string keeps a prefix lower
  * bound and DROPS the upper bound rather than storing an invalid one).
  * Every evaluator answer is therefore conservative: `mayMatch == false`
  * proves no row can satisfy the predicate; anything unknown stays true.
  *
  * Skipping never affects results — a file with absent/partial/legacy-
  * marker stats is simply always scanned.
  */
object FileStats {

  /** Typed bound value. Ordering domains: LongVal covers all integral
    * types plus DateType (epoch days) and Timestamp[NTZ]Type (micros);
    * DoubleVal covers float/double; StringVal compares in UTF-8 byte
    * order (identical in Spark's UTF8String and parquet's UTF8
    * comparator); BoolVal orders false < true. */
  sealed trait StatVal
  final case class LongVal(v: Long) extends StatVal
  final case class DoubleVal(v: Double) extends StatVal
  final case class StringVal(v: String) extends StatVal
  final case class BoolVal(v: Boolean) extends StatVal

  /** Per-file equi-width value histogram of one NUMERIC column: exact
    * non-null row counts over [[HistStats.Buckets]] equal-width buckets
    * spanning the file's own [lo, hi] (bucket i covers
    * lo + width·i ≤ x < lo + width·(i+1), last bucket closed at hi).
    * A single-element `counts` means a constant column (lo == hi, a point
    * mass); an EMPTY `counts` means the file has zero non-null values.
    * Per-file grids over per-file bounds stay exact and mergeable-by-
    * re-binning, which is what lets scan planning serve a table-level
    * equi-height histogram to CBO from the log (see
    * [[HistStats.mergedEquiHeight]]). */
  final case class Hist(lo: Double, hi: Double, counts: Vector[Long]) {
    def total: Long = counts.sum
  }

  /** `min`: lower bound of non-null values (absent = unknown).
    * `max`: upper bound of non-null values (absent = unknown).
    * `nullCount`: exact, absent = unknown.
    * `ndvSketch`: serialized DataSketches HLL sketch of the column's
    * values in this file (absent unless the table declares the column in
    * `graft.ndv.columns`). Sketches are MERGEABLE, so the log can serve a
    * table/scan-level distinct count to the optimizer by unioning the
    * planned files' sketches — no ANALYZE pass (see [[NdvStats]]).
    * `hist`: per-file value histogram, collected alongside the sketch for
    * the NUMERIC declared columns (see [[Hist]]/[[HistStats]]). */
  final case class ColStats(min: Option[StatVal], max: Option[StatVal],
                            nullCount: Option[Long],
                            ndvSketch: Option[Array[Byte]] = None,
                            hist: Option[Hist] = None)

  /** Stats of one data file. `cols` holds only columns with at least one
    * known field; lookup is by lower-cased column name (Spark's default
    * case-insensitive resolution). `sizeBytes` is the file length at
    * commit time (files are immutable once visible), letting scan
    * planning build its file index straight from the log — zero
    * filesystem listing, the property that keeps planning O(matched
    * files) at millions of live files. */
  final case class Stats(rowCount: Long, cols: Map[String, ColStats],
                         sizeBytes: Option[Long] = None) {
    def col(name: String): Option[ColStats] = cols.get(name.toLowerCase)
  }

  /** Columns beyond this many (in schema order) get no stats — the same
    * bound Delta's dataSkippingNumIndexedCols puts on stats growth for
    * very wide tables. */
  val MaxIndexedCols = 32

  /** String bounds longer than this many chars are truncated (min) or
    * dropped (max) to keep markers small. */
  val MaxStringLen = 96

  // ---- JSON codec ({"rc":N,"c":{"name":{"mn":..,"mx":..,"nc":N}}}) ----

  private def valToJson(v: StatVal): JValue = v match {
    case LongVal(x)   => JInt(x)
    case DoubleVal(x) => JDouble(x)
    case StringVal(x) => JString(x)
    case BoolVal(x)   => JBool(x)
  }

  private def jsonToVal(j: JValue): Option[StatVal] = j match {
    case JInt(x)     => Some(LongVal(x.toLong))
    case JDouble(x)  => Some(DoubleVal(x))
    case JDecimal(x) => Some(DoubleVal(x.toDouble))
    case JString(x)  => Some(StringVal(x))
    case JBool(x)    => Some(BoolVal(x))
    case _           => None
  }

  def toJson(s: Stats): JValue =
    JObject(
      List("rc" -> (JInt(s.rowCount): JValue)) ++
      s.sizeBytes.map(b => "sb" -> (JInt(b): JValue)).toList :+
      "c" -> (JObject(s.cols.toList.sortBy(_._1).map { case (n, c) =>
        n -> JObject(List(
          c.min.map(v => "mn" -> valToJson(v)),
          c.max.map(v => "mx" -> valToJson(v)),
          c.nullCount.map(v => "nc" -> (JInt(v): JValue)),
          c.ndvSketch.map(b => "hl" -> (JString(
            java.util.Base64.getEncoder.encodeToString(b)): JValue)),
          c.hist.map(h => "hg" -> (JObject(List(
            "lo" -> (JDouble(h.lo): JValue),
            "hi" -> (JDouble(h.hi): JValue),
            "ct" -> (JArray(h.counts.toList.map(n => JInt(n): JValue)): JValue)
          )): JValue))).flatten)
      }): JValue))

  def fromJson(j: JValue): Option[Stats] = j match {
    case obj: JObject =>
      val m = obj.obj.toMap
      val rc = m.get("rc") match {
        case Some(JInt(n)) => n.toLong
        case _             => return None
      }
      val sizeBytes = m.get("sb").collect { case JInt(n) => n.toLong }
      val cols = m.get("c") match {
        case Some(c: JObject) => c.obj.map { case (name, v) =>
          val cm = v match { case o: JObject => o.obj.toMap; case _ => Map.empty[String, JValue] }
          name.toLowerCase -> ColStats(
            cm.get("mn").flatMap(jsonToVal),
            cm.get("mx").flatMap(jsonToVal),
            cm.get("nc").collect { case JInt(n) => n.toLong },
            cm.get("hl").collect { case JString(s) =>
              java.util.Base64.getDecoder.decode(s) },
            cm.get("hg").collect { case o: JObject =>
              val hm = o.obj.toMap
              def d(k: String): Option[Double] = hm.get(k).collect {
                case JDouble(x) => x; case JInt(x) => x.toDouble
                case JDecimal(x) => x.toDouble
              }
              (d("lo"), d("hi"), hm.get("ct")) match {
                case (Some(lo), Some(hi), Some(JArray(xs))) =>
                  Some(Hist(lo, hi,
                    xs.collect { case JInt(n) => n.toLong }.toVector))
                case _ => None
              }
            }.flatten)
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      Some(Stats(rc, cols, sizeBytes))
    case _ => None
  }

  def render(s: Stats): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(toJson(s)))

  def parse(s: String): Option[Stats] =
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption
      .flatMap(fromJson)

  // ---- footer harvesting ----------------------------------------------

  /** Read one parquet file's footer and derive its stats. None when the
    * footer is unreadable — stats are advisory, a commit never fails over
    * them. Only top-level atomic columns of comparable types are indexed;
    * NaN-polluted float/double bounds are dropped (parquet min/max omit
    * NaN while the data may contain it, so equality-with-NaN must never
    * prune). */
  def fromFooter(conf: Configuration, file: Path): Option[Stats] =
    try {
      val status = LakeStorage.openFor(file, conf).getFileStatus(file)
      fromFooter(conf, status)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[fromFooter]] from an already-stat'ed file (no extra filesystem
    * round trip); records the file length so scan planning can later
    * build its file index from the log alone.
    *
    * The read options come from the caller's already-parsed `conf`.
    * Opening with the input file alone builds them over a fresh
    * `new Configuration()`, which re-parses core-default.xml: about 11 ms
    * per file, paid for every file each manifest commit writes. */
  def fromFooter(conf: Configuration,
                 status: org.apache.hadoop.fs.FileStatus): Option[Stats] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf),
        HadoopReadOptions.builder(conf, status.getPath).build())
      try Some(fromMetadata(reader.getFooter, status.getLen))
      finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Stats of an already-read footer of a file `len` bytes long. */
  private[graft] def fromMetadata(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata, len: Long): Stats = {
    val blocks = footer.getBlocks
    import scala.jdk.CollectionConverters._
    val rowCount = blocks.asScala.map(_.getRowCount).sum
    // accumulate per top-level column across row groups
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, BoundsAcc]
    val indexed = footer.getFileMetaData.getSchema.getFields.asScala
      .take(MaxIndexedCols).map(_.getName).toSet
    for (block <- blocks.asScala; chunk <- block.getColumns.asScala) {
      val pathParts = chunk.getPath.toArray
      if (pathParts.length == 1 && indexed.contains(pathParts(0)))
        acc.getOrElseUpdate(pathParts(0), new BoundsAcc).update(chunk)
    }
    val cols = acc.iterator.flatMap { case (name, a) =>
      a.result.map(name.toLowerCase -> _)
    }.toMap
    Stats(rowCount, cols, Some(len))
  }

  /** Per-column accumulator over a file's row groups. A bound that any
    * chunk cannot supply is STICKILY unknown (a later chunk must not
    * resurrect a partial bound), and an unknown null count poisons
    * everything — we could no longer tell all-null chunks from
    * stats-missing ones. */
  private final class BoundsAcc {
    private var mn: Option[StatVal] = None
    private var mnValid = true
    private var mx: Option[StatVal] = None
    private var mxValid = true
    private var nulls = 0L
    private var nullsValid = true

    def update(chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Unit = {
      val st = chunk.getStatistics
      if (st == null || !st.isNumNullsSet || st.getNumNulls < 0) {
        mnValid = false; mxValid = false; nullsValid = false
        return
      }
      nulls += st.getNumNulls
      if (st.hasNonNullValue) {
        chunkVal(chunk, min = true) match {
          case Some(v) if mnValid => mn = lowerOf(mn, v)
          case _                  => mnValid = false; mn = None
        }
        chunkVal(chunk, min = false) match {
          case Some(v) if mxValid => mx = upperOf(mx, v)
          case _                  => mxValid = false; mx = None
        }
      } else if (st.getNumNulls == 0L) {
        // no non-null values and no nulls: empty chunk, bounds unchanged
      } // else: all-null chunk — bounds unchanged, nulls counted
    }

    private def lowerOf(a: Option[StatVal], b: StatVal): Option[StatVal] =
      a match {
        case None => Some(b)
        case Some(x) => compare(x, b) match {
          case Some(c) => Some(if (c <= 0) x else b)
          case None    => mnValid = false; None
        }
      }

    private def upperOf(a: Option[StatVal], b: StatVal): Option[StatVal] =
      a match {
        case None => Some(b)
        case Some(x) => compare(x, b) match {
          case Some(c) => Some(if (c >= 0) x else b)
          case None    => mxValid = false; None
        }
      }

    def result: Option[ColStats] = {
      val cs = ColStats(
        if (mnValid) mn else None,
        if (mxValid) mx else None,
        if (nullsValid) Some(nulls) else None)
      if (cs.min.isEmpty && cs.max.isEmpty && cs.nullCount.isEmpty) None
      else Some(cs)
    }
  }

  /** The chunk's min or max as a StatVal in the column's Spark-comparable
    * domain; None = unsupported type / NaN-polluted / overlong string
    * upper bound. */
  private def chunkVal(chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                       min: Boolean): Option[StatVal] = {
    val st = chunk.getStatistics
    val prim = chunk.getPrimitiveType
    val logical = prim.getLogicalTypeAnnotation
    def raw: AnyRef =
      (if (min) st.genericGetMin() else st.genericGetMax()).asInstanceOf[AnyRef]
    prim.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.BOOLEAN =>
        Some(BoolVal(raw.asInstanceOf[java.lang.Boolean].booleanValue()))
      case PrimitiveType.PrimitiveTypeName.INT32 =>
        logical match {
          case null => Some(LongVal(raw.asInstanceOf[Number].longValue()))
          case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation |
               _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
            Some(LongVal(raw.asInstanceOf[Number].longValue()))
          case _ => None // decimal-as-int32 etc.
        }
      case PrimitiveType.PrimitiveTypeName.INT64 =>
        logical match {
          case null => Some(LongVal(raw.asInstanceOf[Number].longValue()))
          case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
            Some(LongVal(raw.asInstanceOf[Number].longValue()))
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val v = raw.asInstanceOf[Number].longValue()
            // normalize to Spark's internal micros (floor keeps a lower
            // bound a lower bound for pre-epoch nanos)
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                if (v > Long.MaxValue / 1000 || v < Long.MinValue / 1000) None
                else Some(LongVal(v * 1000L))
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(LongVal(v))
              case LogicalTypeAnnotation.TimeUnit.NANOS  =>
                // floor for the lower bound, ceiling for the upper: valid
                // bounds whichever rounding the reader applies to the data
                Some(LongVal(if (min) Math.floorDiv(v, 1000L)
                             else -Math.floorDiv(-v, 1000L)))
              case _ => None
            }
          case _ => None
        }
      case PrimitiveType.PrimitiveTypeName.FLOAT |
           PrimitiveType.PrimitiveTypeName.DOUBLE =>
        // parquet float/double footer bounds silently EXCLUDE NaN values
        // the data may contain, and Spark orders NaN above everything —
        // skipping on such bounds would drop NaN rows from `x > c`
        // queries. No stats ⇒ never pruned. (PARQUET-1222)
        None
      case PrimitiveType.PrimitiveTypeName.BINARY =>
        logical match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation |
               _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation =>
            val s = new String(
              raw.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, "UTF-8")
            if (s.length <= MaxStringLen) Some(StringVal(s))
            else if (min) {
              // a prefix is a valid LOWER bound; cut off a split surrogate
              var cut = MaxStringLen
              if (Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
              Some(StringVal(s.substring(0, cut)))
            } else None // a prefix is NOT a valid upper bound — drop
          case _ => None
        }
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY: no skipping
    }
  }

  /** Harvest stats for `files` (dir-relative) under `dir`, in parallel
    * (footer reads are ~KB metadata fetches). The cost is O(committed
    * delta), never O(table): an append reads only its own new files'
    * footers. Unreadable footers are silently skipped. */
  def collect(dir: String, files: Seq[String]): Map[String, Stats] = {
    if (files.isEmpty) return Map.empty
    val fs = LakeStorage.openFor(dir)
    val conf = fs.getConf
    if (files.lengthCompare(4) <= 0) {
      files.flatMap(f =>
        fromFooter(conf, new Path(dir, f)).map(f -> _)).toMap
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.length))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = files.map { f =>
          new java.util.concurrent.Callable[Option[(String, Stats)]] {
            override def call(): Option[(String, Stats)] =
              fromFooter(conf, new Path(dir, f)).map(f -> _)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.flatMap(_.get()).toMap
      } finally pool.shutdown()
    }
  }

  // ---- bounds evaluation ----------------------------------------------

  /** Total order within one domain; None across domains (never prune on a
    * domain mismatch — long↔double coercion could flip a comparison at
    * the precision edge and mis-prune). Doubles use primitive comparison
    * so -0.0 == 0.0 (Spark equality semantics); NaN never reaches here. */
  def compare(a: StatVal, b: StatVal): Option[Int] = (a, b) match {
    case (LongVal(x), LongVal(y))     => Some(java.lang.Long.compare(x, y))
    case (DoubleVal(x), DoubleVal(y)) =>
      Some(if (x < y) -1 else if (x > y) 1 else 0)
    case (StringVal(x), StringVal(y)) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case (BoolVal(x), BoolVal(y))     => Some(java.lang.Boolean.compare(x, y))
    case _                            => None
  }

  /** A catalyst literal's internal value in the stats domain. None =
    * un-prunable type (decimal, binary, null handled by callers) or NaN. */
  def litVal(value: Any, dt: DataType): Option[StatVal] =
    if (value == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(LongVal(value.asInstanceOf[Number].longValue()))
      case DateType => Some(LongVal(value.asInstanceOf[Number].longValue()))
      case TimestampType | TimestampNTZType =>
        Some(LongVal(value.asInstanceOf[Number].longValue()))
      case FloatType =>
        val v = value.asInstanceOf[Float]
        if (java.lang.Float.isNaN(v)) None else Some(DoubleVal(v.toDouble))
      case DoubleType =>
        val v = value.asInstanceOf[Double]
        if (java.lang.Double.isNaN(v)) None else Some(DoubleVal(v))
      case StringType => Some(StringVal(value.toString))
      case BooleanType => Some(BoolVal(value.asInstanceOf[Boolean]))
      case _ => None
    }

  private sealed trait Op
  private case object Eq extends Op
  private case object Lt extends Op
  private case object LtEq extends Op
  private case object Gt extends Op
  private case object GtEq extends Op

  /** Can any non-null value within the column's bounds satisfy `v0 op x`?
    * Unknown bounds answer true. */
  private def rangeMayMatch(c: ColStats, op: Op, x: StatVal): Boolean = {
    def minCmp = c.min.flatMap(compare(_, x)) // sign of (lowerBound - x)
    def maxCmp = c.max.flatMap(compare(_, x))
    op match {
      case Eq   => !minCmp.exists(_ > 0) && !maxCmp.exists(_ < 0)
      case Lt   => !minCmp.exists(_ >= 0) // some value < x unless lb >= x
      case LtEq => !minCmp.exists(_ > 0)
      case Gt   => !maxCmp.exists(_ <= 0)
      case GtEq => !maxCmp.exists(_ < 0)
    }
  }

  private def hasNonNull(rc: Long, c: ColStats): Boolean =
    c.nullCount match {
      case Some(nc) => nc < rc
      case None     => true // unknown: assume yes
    }

  /** mayMatch for one comparison predicate on `name`. */
  private def cmpMayMatch(stats: Stats, name: String, op: Op,
                          x: Option[StatVal]): Boolean =
    stats.col(name) match {
      case None => true
      case Some(c) =>
        x match {
          case None    => true // un-prunable literal
          case Some(v) =>
            // a comparison is only TRUE on non-null values
            hasNonNull(stats.rowCount, c) && rangeMayMatch(c, op, v)
        }
    }

  private def nullMayMatch(stats: Stats, name: String): Boolean =
    stats.col(name) match {
      case Some(c) => c.nullCount match {
        case Some(nc) => nc > 0
        case None     => true
      }
      case None => true
    }

  private def notNullMayMatch(stats: Stats, name: String): Boolean =
    stats.col(name).forall(hasNonNull(stats.rowCount, _))

  private def startsWithMayMatch(stats: Stats, name: String,
                                 prefix: String): Boolean =
    stats.col(name) match {
      case None => true
      case Some(c) =>
        if (!hasNonNull(stats.rowCount, c)) return false
        val pruneByMax = c.max.exists {
          case StringVal(ub) => compare(StringVal(ub), StringVal(prefix)).exists(_ < 0)
          case _             => false
        }
        // lb > p and lb not prefixed by p ⇒ every value >= lb differs
        // from p below p's length on the high side ⇒ no value has prefix p
        val pruneByMin = c.min.exists {
          case StringVal(lb) =>
            compare(StringVal(lb), StringVal(prefix)).exists(_ > 0) &&
              !lb.startsWith(prefix)
          case _ => false
        }
        !pruneByMax && !pruneByMin
    }

  /** Conservative file-level evaluation of one pushed catalyst predicate:
    * false ⇒ NO row of a file with these stats can satisfy it. Anything
    * unrecognized (casts, functions, UDFs, non-literal comparands) is
    * true. Only used with deterministic conjuncts Spark asked the source
    * to evaluate, so pruning on any conjunct is sound. */
  def mayMatch(e: E.Expression, stats: Stats): Boolean = e match {
    case E.And(l, r) => mayMatch(l, stats) && mayMatch(r, stats)
    case E.Or(l, r)  => mayMatch(l, stats) || mayMatch(r, stats)

    // a folded boolean literal: FALSE/NULL can match no row anywhere
    // (without this arm, `where => 'false'` would fall through to the
    // conservative `true` and rewrite/scan EVERY file)
    case E.Literal(v, org.apache.spark.sql.types.BooleanType) =>
      v != null && v.asInstanceOf[Boolean]

    case E.EqualTo(a: E.Attribute, E.Literal(v, dt)) =>
      if (v == null) false // `a = NULL` is never TRUE
      else cmpMayMatch(stats, a.name, Eq, litVal(v, dt))
    case E.EqualTo(E.Literal(v, dt), a: E.Attribute) =>
      if (v == null) false
      else cmpMayMatch(stats, a.name, Eq, litVal(v, dt))
    case E.EqualNullSafe(a: E.Attribute, E.Literal(v, dt)) =>
      if (v == null) nullMayMatch(stats, a.name)
      else cmpMayMatch(stats, a.name, Eq, litVal(v, dt))
    case E.EqualNullSafe(E.Literal(v, dt), a: E.Attribute) =>
      if (v == null) nullMayMatch(stats, a.name)
      else cmpMayMatch(stats, a.name, Eq, litVal(v, dt))

    case E.LessThan(a: E.Attribute, E.Literal(v, dt)) =>
      v != null && cmpMayMatch(stats, a.name, Lt, litVal(v, dt))
    case E.LessThan(E.Literal(v, dt), a: E.Attribute) =>
      v != null && cmpMayMatch(stats, a.name, Gt, litVal(v, dt))
    case E.LessThanOrEqual(a: E.Attribute, E.Literal(v, dt)) =>
      v != null && cmpMayMatch(stats, a.name, LtEq, litVal(v, dt))
    case E.LessThanOrEqual(E.Literal(v, dt), a: E.Attribute) =>
      v != null && cmpMayMatch(stats, a.name, GtEq, litVal(v, dt))
    case E.GreaterThan(a: E.Attribute, E.Literal(v, dt)) =>
      v != null && cmpMayMatch(stats, a.name, Gt, litVal(v, dt))
    case E.GreaterThan(E.Literal(v, dt), a: E.Attribute) =>
      v != null && cmpMayMatch(stats, a.name, Lt, litVal(v, dt))
    case E.GreaterThanOrEqual(a: E.Attribute, E.Literal(v, dt)) =>
      v != null && cmpMayMatch(stats, a.name, GtEq, litVal(v, dt))
    case E.GreaterThanOrEqual(E.Literal(v, dt), a: E.Attribute) =>
      v != null && cmpMayMatch(stats, a.name, LtEq, litVal(v, dt))

    case E.In(a: E.Attribute, list) if list.forall(_.isInstanceOf[E.Literal]) =>
      list.exists {
        case E.Literal(v, dt) =>
          v != null && cmpMayMatch(stats, a.name, Eq, litVal(v, dt))
        case _ => true
      }
    case E.InSet(a: E.Attribute, hset) =>
      hset.exists(v =>
        v != null && cmpMayMatch(stats, a.name, Eq, litVal(v, a.dataType)))

    case E.IsNull(a: E.Attribute)    => nullMayMatch(stats, a.name)
    case E.IsNotNull(a: E.Attribute) => notNullMayMatch(stats, a.name)

    case E.StartsWith(a: E.Attribute, E.Literal(v, StringType)) if v != null =>
      startsWithMayMatch(stats, a.name, v.toString)

    case _ => true
  }

  /** Compile v1 filters into ONE conservative per-file predicate with all
    * value conversion hoisted out of the per-file loop. The IN shape —
    * what a dynamic-pruning runtime filter carries, up to the broadcast's
    * whole key set — pre-converts and SORTS its values once, then
    * range-checks each file's bounds in O(log values); evaluating
    * [[mayMatchFilter]]'s In per file would be O(files × values) with a
    * schema lookup and a catalyst conversion per pair, a driver stall at
    * exactly the 10⁵-file scale runtime pruning targets. Every other
    * shape closes over the filter and delegates to [[mayMatchFilter]]
    * (O(1) comparisons per file). Semantics are identical: false ⇒ no
    * row of a file with these stats can satisfy every filter. */
  def compileFilterPruner(filters: Seq[sources.Filter],
                          schema: StructType): Stats => Boolean = {
    val compiled = filters.map(compileOne(_, schema))
    stats => compiled.forall(_(stats))
  }

  private def compileOne(f: sources.Filter,
                         schema: StructType): Stats => Boolean = f match {
    case sources.In(a, vs) =>
      schema.find(_.name.equalsIgnoreCase(a)).map(_.dataType) match {
        case None => _ => true // unknown column: never prune
        case Some(dt) =>
          val nonNull = vs.filter(_ != null)
          val converted = nonNull.map(v => litVal(
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToCatalyst(v), dt))
          if (converted.exists(_.isEmpty)) {
            // an un-prunable value keeps every file (as mayMatchFilter
            // would, one conservative `true` per file)
            _ => true
          } else if (converted.isEmpty) {
            // `a IN ()` / only nulls: never TRUE on any row
            _ => false
          } else {
            // one dt ⇒ one StatVal domain: total order, sortable once
            val sorted = converted.flatten
              .sortWith((x, y) => compare(x, y).exists(_ < 0)).toArray
            def lowerBound(bound: StatVal): Int = {
              var lo = 0; var hi = sorted.length
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (compare(sorted(mid), bound).exists(_ < 0)) lo = mid + 1
                else hi = mid
              }
              lo
            }
            stats => stats.col(a) match {
              case None => true
              case Some(c) =>
                if (!hasNonNull(stats.rowCount, c)) false
                else if (c.min.exists(m => compare(sorted(0), m).isEmpty))
                  true // stat domain mismatch: never prune
                else {
                  val from = c.min.map(lowerBound).getOrElse(0)
                  from < sorted.length && c.max.forall(mx =>
                    compare(sorted(from), mx).forall(_ <= 0))
                }
            }
          }
      }
    case other => stats => mayMatchFilter(other, stats, schema)
  }

  /** The v1-Filter twin of [[mayMatch]] (values arrive as EXTERNAL Scala
    * types — convert through the declared schema before comparing). Used
    * by the DELETE fast path to skip reading files that cannot hold
    * affected rows. */
  def mayMatchFilter(f: sources.Filter, stats: Stats,
                     schema: StructType): Boolean = {
    def ext(name: String, v: Any): Option[StatVal] =
      if (v == null) None
      else schema.find(_.name.equalsIgnoreCase(name)).flatMap { field =>
        val internal = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToCatalyst(v)
        litVal(internal, field.dataType)
      }
    f match {
      case sources.And(l, r) =>
        mayMatchFilter(l, stats, schema) && mayMatchFilter(r, stats, schema)
      case sources.Or(l, r) =>
        mayMatchFilter(l, stats, schema) || mayMatchFilter(r, stats, schema)
      case sources.EqualTo(a, v) =>
        v != null && cmpMayMatch(stats, a, Eq, ext(a, v))
      case sources.EqualNullSafe(a, v) =>
        if (v == null) nullMayMatch(stats, a)
        else cmpMayMatch(stats, a, Eq, ext(a, v))
      case sources.LessThan(a, v) =>
        v != null && cmpMayMatch(stats, a, Lt, ext(a, v))
      case sources.LessThanOrEqual(a, v) =>
        v != null && cmpMayMatch(stats, a, LtEq, ext(a, v))
      case sources.GreaterThan(a, v) =>
        v != null && cmpMayMatch(stats, a, Gt, ext(a, v))
      case sources.GreaterThanOrEqual(a, v) =>
        v != null && cmpMayMatch(stats, a, GtEq, ext(a, v))
      case sources.In(a, vs) =>
        vs.exists(v => v != null && cmpMayMatch(stats, a, Eq, ext(a, v)))
      case sources.IsNull(a)    => nullMayMatch(stats, a)
      case sources.IsNotNull(a) => notNullMayMatch(stats, a)
      case sources.StringStartsWith(a, p) => startsWithMayMatch(stats, a, p)
      case sources.AlwaysFalse() => false
      case _ => true
    }
  }
}
