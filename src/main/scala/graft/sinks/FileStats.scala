package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-data-file column statistics and the one stats-vs-predicate
  * evaluator for every table log graft writes: [[DeltaInterop]]
  * `add.stats`, [[IcebergInterop]] manifest bounds and graft's own
  * `_graft_log` ([[VersionedTable]]), which records each file's stats
  * in the same `add.stats` shape ([[statsValue]] / [[fileStatOfValue]]).
  *
  * This is the 100 TB data-skipping path: at scale the win is not
  * row-group skipping inside an opened file (the parquet reader already
  * does that) but never PLANNING a task for a file the predicate can
  * provably not match — with millions of files, pruning happens against
  * the table metadata before any scan task exists. The reference gets
  * this from the connector jars (Delta/Hudi/Iceberg all ship it); here
  * it is implemented against the open formats directly.
  *
  * Collection reads the parquet FOOTERS the writer already computed
  * ([[fromFooters]] — KBs per file, zero data bytes re-read); the
  * distributed re-scan ([[collect]]) remains for callers whose inputs
  * may carry untrustworthy footers and as the spec's ground truth.
  *
  * Pruning is CONSERVATIVE by construction. [[mayMatch]] walks the
  * resolved condition: And and Or trees of comparisons, In, IsNull and
  * IsNotNull between a column and constants are tested against the
  * bounds, exactly ([[cmp]]). A cast on the column side is seen through
  * only when it maps every value exactly and in order (int to bigint or
  * to double, never bigint to double, never `cast(d as int)`). Anything
  * else (functions, other casts, column-column predicates) keeps the
  * file. Callers must still apply the full predicate to the rows —
  * pruning may only ever drop files that cannot match.
  */
object FileStats {

  /** Stats for one column of one file. `allNull` is the strongest form
    * of "min/max absent": the column is known to hold no non-null value.
    */
  final case class ColStats(min: Option[Any], max: Option[Any],
      nullCount: Option[Long], allNull: Boolean)

  final case class FileStat(numRecords: Option[Long], cols: Map[String, ColStats])

  /** Types whose min/max order parquet, Delta's stats JSON, and
    * Iceberg's bound serialization all agree on. Binary/struct/array
    * and exotic types carry no stats (never pruned on).
    */
  def boundEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** One Spark job over `files` (all sharing `schema`, no partition
    * columns): per file, row count + min/max/nullCount for every
    * bound-eligible column. Keys are the paths as given, mapped from
    * what Spark reports through [[CommitKernel.fileKey]] — full paths,
    * because basenames are NOT unique when the file list mixes hive
    * partition dirs or donor files gathered from arbitrary commits (a
    * task reuses its part filename in every partition dir it touches),
    * and a basename collision would cross-assign stats, making
    * stats-based pruning silently drop matching rows.
    */
  def collect(spark: SparkSession, files: Seq[String],
      schema: StructType): Map[String, FileStat] = {
    if (files.isEmpty) return Map.empty
    val fs = new org.apache.hadoop.fs.Path(files.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byFile = CommitKernel.byKey(fs, files)(new org.apache.hadoop.fs.Path(_))
    val statCols = schema.fields.filter(f => boundEligible(f.dataType)).toSeq
    val aggs = count(lit(1)).as("_nrec") +: statCols.flatMap { f =>
      Seq(min(col(f.name)).as(s"_min_${f.name}"),
        max(col(f.name)).as(s"_max_${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"_nc_${f.name}"))
    }
    spark.read.schema(schema).parquet(files: _*)
      .groupBy(col("_metadata.file_path").as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per staged file — bounded by the commit's file count
      .map { r =>
        val n = r.getAs[Long]("_nrec")
        val cols = statCols.map { f =>
          val nc = r.getAs[Long](s"_nc_${f.name}")
          val mn = Option(r.get(r.fieldIndex(s"_min_${f.name}")))
            .map(v => toInternal(v, f.dataType))
          val mx = Option(r.get(r.fieldIndex(s"_max_${f.name}")))
            .map(v => toInternal(v, f.dataType))
          f.name -> ColStats(mn, mx, Some(nc), allNull = nc == n)
        }.toMap
        byFile(r.getAs[String]("_file")) -> FileStat(Some(n), cols)
      }.toMap
  }

  /** Footer route — the same per-file stats read straight from the
    * parquet footers the writer already computed, NEVER re-reading a
    * data byte. [[collect]]'s distributed re-scan reads the whole
    * commit a second time (at 100 TB that doubles every write's I/O);
    * footers are a few KB per file, so a commit's stats cost is
    * O(files), IO-bound, and runs on a small thread pool. Used by the
    * lakehouse writers for freshly-staged commits; [[collect]] remains
    * for callers that must scan anyway.
    *
    * Conservative by construction: a column chunk without trustworthy
    * stats (INT96 timestamps, unknown logical units, stats dropped by
    * the writer, NaN-poisoned floats) yields NO bounds for that file —
    * pruning then keeps the file. Truncated binary bounds are still
    * valid bounds (parquet rounds the max UP), so pruning stays sound.
    * A spec pins this route equal to [[collect]] across the type
    * battery. Keys are the paths as given.
    */
  def fromFooters(spark: SparkSession, files: Seq[String],
      schema: StructType): Map[String, FileStat] = {
    if (files.isEmpty) return Map.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val statCols = schema.fields.filter(f => boundEligible(f.dataType)).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size))
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(files.map { f =>
        new java.util.concurrent.Callable[(String, FileStat)] {
          override def call(): (String, FileStat) =
            f -> readFooterStats(conf, f, statCols)
        }
      }.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  /** Spark schema of one parquet file, from its FOOTER on the calling
    * thread — the building block for driver-side schema resolution
    * where `spark.read.option("mergeSchema", …)` would ship a
    * distributed footer job per read construction.
    */
  def footerSchema(conf: org.apache.hadoop.conf.Configuration,
      file: String): StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    // converter from the SESSION's SQLConf (binaryAsString,
    // int96AsTimestamp, timestampNTZ must match what spark.read would
    // infer), and .asNullable because inference always reports nullable —
    // a required-field footer schema would otherwise misclassify
    // logically identical files as divergent in the schemas.distinct
    // checks (HudiMor/HudiInterop) and flip nullability vs prior behavior
    try asNullable(
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get)
      .convert(reader.getFooter.getFileMetaData.getSchema))
      .asInstanceOf[StructType]
    finally reader.close()
  }

  /** Everything-nullable copy of a schema (what spark.read inference
    * reports); StructType.asNullable is private[spark].
    */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = asNullable(a.elementType),
      containsNull = true)
    case m: MapType => m.copy(keyType = asNullable(m.keyType),
      valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Footer schemas of many files on a driver thread pool. */
  def footerSchemas(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[String]): Seq[StructType] = {
    if (files.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size))
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(files.map { f =>
        new java.util.concurrent.Callable[StructType] {
          override def call(): StructType = footerSchema(conf, f)
        }
      }.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  private def readFooterStats(conf: org.apache.hadoop.conf.Configuration,
      file: String, statCols: Seq[StructField]): FileStat = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val cols = statCols.flatMap { f =>
        // merge this column's chunk stats across row groups; any chunk
        // without trustworthy stats makes the whole column unknown
        var mn: Option[Any] = None
        var mx: Option[Any] = None
        var nulls: Option[Long] = Some(0L)
        var boundsOk = true
        blocks.foreach { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == f.name) match {
            case None => boundsOk = false; nulls = None
            case Some(c) =>
              val st = c.getStatistics
              if (st == null) { boundsOk = false; nulls = None }
              else {
                nulls =
                  if (st.isNumNullsSet) nulls.map(_ + st.getNumNulls)
                  else None
                if (st.hasNonNullValue) {
                  (fromParquet(st.genericGetMin, f.dataType, c),
                    fromParquet(st.genericGetMax, f.dataType, c)) match {
                    case (Some(lo), Some(hi)) =>
                      mn = Some(mn.filter(m => cmp(m, lo).exists(_ <= 0))
                        .getOrElse(lo))
                      mx = Some(mx.filter(m => cmp(m, hi).exists(_ >= 0))
                        .getOrElse(hi))
                    case _ => boundsOk = false
                  }
                } else if (!st.isNumNullsSet ||
                    st.getNumNulls < c.getValueCount) {
                  // values exist but no min/max recorded
                  boundsOk = false
                } // else: an all-null chunk constrains nothing
              }
          }
        }
        val allNull = nulls.contains(numRecords) && numRecords > 0
        if (!boundsOk && nulls.isEmpty) None
        else Some(f.name -> ColStats(
          if (boundsOk) mn else None,
          if (boundsOk) mx else None,
          nulls, allNull))
      }.toMap
      FileStat(Some(numRecords), cols)
    } finally reader.close()
  }

  /** Parquet chunk-statistics value → catalyst internal, keyed on the
    * SPARK type the file was written with. Unknown pairings (INT96
    * timestamps, non-micro units, foreign encodings) → None.
    */
  private def fromParquet(v: Any,
      dt: DataType,
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[Any] = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def tsIsMicros: Boolean =
      chunk.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      }
    (dt, v) match {
      case (ByteType, i: java.lang.Integer) => Some(i.byteValue())
      case (ShortType, i: java.lang.Integer) => Some(i.shortValue())
      case (IntegerType, i: java.lang.Integer) => Some(i.intValue())
      case (DateType, i: java.lang.Integer) => Some(i.intValue()) // days
      case (LongType, l: java.lang.Long) => Some(l.longValue())
      case (TimestampType, l: java.lang.Long) if tsIsMicros =>
        Some(l.longValue()) // micros
      case (FloatType, f: java.lang.Float) if !f.isNaN => Some(f.floatValue())
      case (DoubleType, d: java.lang.Double) if !d.isNaN => Some(d.doubleValue())
      case (StringType, b: Binary) => Some(UTF8String.fromBytes(b.getBytes))
      case (d: DecimalType, i: java.lang.Integer) =>
        Some(Decimal(BigDecimal(BigInt(i.longValue()), d.scale), d.precision, d.scale))
      case (d: DecimalType, l: java.lang.Long) =>
        Some(Decimal(BigDecimal(BigInt(l.longValue()), d.scale), d.precision, d.scale))
      case (d: DecimalType, b: Binary) =>
        Some(Decimal(BigDecimal(
          BigInt(new java.math.BigInteger(b.getBytes)), d.scale),
          d.precision, d.scale))
      case _ => None
    }
  }

  /** External (Row) value → catalyst internal value, the domain all
    * comparisons run in (UTF8String for strings, days for dates,
    * micros for timestamps).
    */
  def toInternal(v: Any, dt: DataType): Any =
    CatalystTypeConverters.createToCatalystConverter(dt)(v)

  // ---- the `add.stats` codec ----

  /** Delta's `add.stats` string: [[statsValue]] rendered. */
  def statsJson(stat: FileStat, fields: Seq[StructField],
      key: StructField => String = _.name): String =
    JsonMethods.compact(JsonMethods.render(statsValue(stat, fields, key)))

  /** The `add.stats` object, also the per-file stats of graft's own log:
    * numRecords/minValues/maxValues/nullCount for `fields`, keyed by
    * `key(field)`. Values are written in the stats JSON's value domain,
    * exactly: integers and decimals as JSON numbers with every digit,
    * doubles in their shortest round-trip form, strings as strings,
    * dates as `yyyy-MM-dd` and timestamps as ISO-8601 instants. A
    * non-finite double records no bound.
    */
  def statsValue(stat: FileStat, fields: Seq[StructField],
      key: StructField => String = _.name): JObject = {
    def valueJson(v: Any, dt: DataType): JValue = (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        JLong(n.longValue())
      case (FloatType | DoubleType, n: Number) =>
        val d = n.doubleValue()
        if (d.isNaN || d.isInfinite) JNothing else JDouble(d)
      case (_: DecimalType, d: Decimal) => JDecimal(d.toBigDecimal)
      case (StringType, s) => JString(s.toString)
      case (DateType, d: Int) => JString(java.time.LocalDate.ofEpochDay(d.toLong).toString)
      case (TimestampType, us: Long) =>
        JString(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L).toString)
      case _ => JNothing
    }
    val cols = fields.toList.flatMap(f => stat.cols.get(f.name).map(f -> _))
    def sideJson(side: ColStats => Option[Any]): JObject =
      JObject(cols.flatMap { case (f, s) =>
        side(s).map(v => key(f) -> valueJson(v, f.dataType)).filter(_._2 != JNothing)
      })
    JObject(
      "numRecords" -> JLong(stat.numRecords.getOrElse(0L)),
      "minValues" -> sideJson(_.min),
      "maxValues" -> sideJson(_.max),
      "nullCount" -> JObject(cols.flatMap { case (f, s) =>
        s.nullCount.map(n => key(f) -> (JLong(n): JValue)) }))
  }

  /** [[statsJson]] back to catalyst-internal stats for `fields`.
    * Numbers parse as big decimals, so longs and decimals come back with
    * every digit. Unparseable stats (foreign writers vary) yield none.
    */
  def fileStatOf(json: String, fields: Seq[StructField],
      key: StructField => String = _.name): FileStat =
    fileStatOfValue(
      try JsonMethods.parse(json, useBigDecimalForDouble = true)
      catch { case scala.util.control.NonFatal(_) => JNothing },
      fields, key)

  /** A parsed [[statsValue]] back to catalyst-internal stats for
    * `fields`, each value in its column type's internal form. Absent or
    * undecodable values yield no entry, and no entry never prunes.
    */
  def fileStatOfValue(stats: JValue, fields: Seq[StructField],
      key: StructField => String = _.name): FileStat = {
    implicit val formats: Formats = DefaultFormats
    def parseValue(j: JValue, dt: DataType): Option[Any] = try {
      (j, dt) match {
        case (JNothing, _) | (JNull, _) => None
        case (v, ByteType) => Some(v.extract[Byte])
        case (v, ShortType) => Some(v.extract[Short])
        case (v, IntegerType) => Some(v.extract[Int])
        case (v, LongType) => Some(v.extract[Long])
        case (v, FloatType) => Some(v.extract[Double].toFloat)
        case (v, DoubleType) => Some(v.extract[Double])
        case (v, dt: DecimalType) =>
          Some(Decimal(v.extract[BigDecimal], dt.precision, dt.scale))
        case (JString(s), StringType) => Some(UTF8String.fromString(s))
        case (JString(s), DateType) => Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
        case (JString(s), TimestampType) =>
          val i = java.time.Instant.parse(s)
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    val numRecords = (stats \ "numRecords").extractOpt[Long]
    FileStat(numRecords, fields.flatMap { f =>
      val k = key(f)
      val mn = parseValue(stats \ "minValues" \ k, f.dataType)
      val mx = parseValue(stats \ "maxValues" \ k, f.dataType)
      val nc = (stats \ "nullCount" \ k).extractOpt[Long]
      if (mn.isEmpty && mx.isEmpty && nc.isEmpty) None
      else Some(f.name -> ColStats(mn, mx, nc, allNull = nc.isDefined && nc == numRecords))
    }.toMap)
  }

  /** A hive-style partition value (`None` is null) of a file holding
    * `rows` rows as exact stats: min == max, or all-null. The string
    * casts to `dt` as the reader casts it, in time zone `tz`.
    */
  def partitionStat(raw: Option[String], dt: DataType, tz: String,
      rows: Option[Long]): ColStats =
    raw match {
      case None => ColStats(None, None, rows, allNull = true)
      case Some(s) =>
        val v = Option(Cast(Literal(UTF8String.fromString(s), StringType), dt, Some(tz))
          .eval(null))
        ColStats(v, v, Some(0L), allNull = v.isEmpty)
    }

  // ---- the skipping evaluator ----

  /** `where` resolved against `schema`: the analyzer types the literals
    * and inserts the implicit casts, so a stats test runs in exactly
    * the domain the row filter does. No data is touched.
    */
  def condition(spark: SparkSession, schema: StructType, where: Column): Expression =
    org.apache.spark.sql.GraftShim.analyzed(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(where))
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .getOrElse(Literal.TrueLiteral)

  /** A column reference, seen through casts that map every value of the
    * column exactly and in order: a bound of the column is then a bound
    * of the cast. Any other cast (`cast(d as int)`, bigint to double)
    * is not a column here, so it never prunes.
    */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case c: Cast if exactCast(c.child.dataType, c.dataType) => unapply(c.child)
      case _ => None
    }
  }

  private def exactCast(from: DataType, to: DataType): Boolean = {
    def digits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(20)
      case _ => None
    }
    (from, to) match {
      case (ByteType | ShortType, IntegerType | LongType | FloatType | DoubleType) => true
      case (ByteType, ShortType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (f, t: DecimalType) => digits(f).exists(_ <= t.precision - t.scale)
      case _ => false
    }
  }

  /** A constant: a literal or a foldable expression over literals (the
    * analyzer's cast of one), evaluated to its catalyst-internal value.
    */
  private object Const {
    def unapply(e: Expression): Option[Any] =
      if (e.foldable) scala.util.Try(e.eval(null)).toOption else None
  }

  /** Could any row of a file with `stat` satisfy the resolved
    * `condition`? And, Or, the five comparisons, In, IsNull and
    * IsNotNull between a column and constants are tested against the
    * file's bounds and null counts through [[cmp]]; anything else, a
    * column without stats, or a null constant keeps the file.
    */
  def mayMatch(condition: Expression, stat: FileStat): Boolean = {
    def range(c: String, op: String, v: Any): Boolean =
      v == null || stat.cols.get(c).forall(s => !s.allNull && rangeMayMatch(op, v, s))
    condition match {
      case And(l, r) => mayMatch(l, stat) && mayMatch(r, stat)
      case Or(l, r) => mayMatch(l, stat) || mayMatch(r, stat)
      case EqualTo(Attr(c), Const(v)) => range(c, "=", v)
      case EqualTo(Const(v), Attr(c)) => range(c, "=", v)
      case LessThan(Attr(c), Const(v)) => range(c, "<", v)
      case LessThan(Const(v), Attr(c)) => range(c, ">", v)
      case LessThanOrEqual(Attr(c), Const(v)) => range(c, "<=", v)
      case LessThanOrEqual(Const(v), Attr(c)) => range(c, ">=", v)
      case GreaterThan(Attr(c), Const(v)) => range(c, ">", v)
      case GreaterThan(Const(v), Attr(c)) => range(c, "<", v)
      case GreaterThanOrEqual(Attr(c), Const(v)) => range(c, ">=", v)
      case GreaterThanOrEqual(Const(v), Attr(c)) => range(c, "<=", v)
      case In(Attr(c), vs) if vs.forall(_.foldable) =>
        val values = vs.map(Const.unapply)
        values.exists(_.isEmpty) || stat.cols.get(c).forall(s => !s.allNull &&
          values.flatten.exists(v => v != null && rangeMayMatch("=", v, s)))
      case IsNull(Attr(c)) =>
        stat.cols.get(c).forall(s => s.allNull || s.nullCount.forall(_ > 0))
      case IsNotNull(Attr(c)) => stat.cols.get(c).forall(!_.allNull)
      case _ => true
    }
  }

  private def rangeMayMatch(op: String, v: Any, s: ColStats): Boolean = {
    // absent min/max with live non-null rows (foreign table without
    // stats for this column) → cannot prune
    if (s.min.isEmpty || s.max.isEmpty) return true
    val (mn, mx) = (s.min.get, s.max.get)
    op match {
      case "=" => cmp(v, mn).forall(_ >= 0) && cmp(v, mx).forall(_ <= 0)
      case "<" => cmp(mn, v).forall(_ < 0)
      case "<=" => cmp(mn, v).forall(_ <= 0)
      case ">" => cmp(mx, v).forall(_ > 0)
      case ">=" => cmp(mx, v).forall(_ >= 0)
      case _ => true
    }
  }

  /** Compare two catalyst-internal values exactly; None (no pruning)
    * when the pair is not comparable. Numbers compare by their exact
    * values, whatever their types: a long above 2^53 against a double
    * bound, an int against a decimal. NaN compares with nothing.
    * Strings compare in UTF8String byte order, the order parquet
    * collects their bounds in.
    */
  def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
    case _ => (exact(a), exact(b), a, b) match {
      case (Some(x), Some(y), _, _) => Some(x.compareTo(y))
      // an infinity orders against any other number by their doubles
      case (_, _, x: Number, y: Number) if !x.doubleValue.isNaN && !y.doubleValue.isNaN =>
        Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
      case _ => None
    }
  }

  private def exact(v: Any): Option[java.math.BigDecimal] = v match {
    case d: Decimal => Some(d.toJavaBigDecimal)
    case x @ (_: java.lang.Double | _: java.lang.Float) =>
      val d = x.asInstanceOf[Number].doubleValue
      if (d.isNaN || d.isInfinite) None else Some(new java.math.BigDecimal(d))
    case x @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      Some(java.math.BigDecimal.valueOf(x.asInstanceOf[Number].longValue))
    case _ => None
  }

  /** Apply `where` to a file list: keep files whose stats may match. */
  def prune[A](spark: SparkSession, schema: StructType, where: Option[Column],
      files: Seq[A], statOf: A => FileStat): Seq[A] = where match {
    case None => files
    case Some(w) =>
      val cond = condition(spark, schema, w)
      files.filter(f => mayMatch(cond, statOf(f)))
  }

  /** Outcome of [[keyEnvelope]]: can the source's join keys be turned
    * into a file-prunable range predicate?
    */
  sealed trait Envelope
  /** The source has no rows: the merge is a no-op, answered by the same
    * aggregate (no separate emptiness action).
    */
  case object Empty extends Envelope
  /** Some key column has no non-null source value: equality can never
    * hold, so NO target row matches any source row.
    */
  case object Unmatchable extends Envelope
  /** No orderable key column: every file is a candidate. */
  case object Unbounded extends Envelope
  /** Conjunction of per-column `key BETWEEN min AND max` ranges —
    * conservative: a file outside the envelope cannot hold a match.
    */
  final case class Bounds(pred: Column) extends Envelope

  /** The [min, max] envelope of `source`'s `on` columns as ONE bounded
    * driver aggregate (2·|on| scalars), for MERGE-style touched-file
    * pruning: a target file whose stats lie outside every source key's
    * range cannot contain a matched row. Non-orderable key types simply
    * drop out of the conjunction (still conservative). The same
    * aggregate counts the source, so an empty source reports [[Empty]].
    */
  private[sinks] def keyEnvelope(source: DataFrame, on: Seq[String]): Envelope =
    keyEnvelope(source, on, Nil)._1

  /** [[keyEnvelope]] that also evaluates the aggregates `extra` over
    * `source` in the same job and returns their values, in order. With
    * `extra` the aggregate runs even when no key column is orderable.
    */
  private[sinks] def keyEnvelope(source: DataFrame, on: Seq[String],
      extra: Seq[Column]): (Envelope, Seq[Any]) = {
    val fields = source.schema.fields.filter(f => on.contains(f.name))
    val orderable = fields.filter(_.dataType match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _ => false
    })
    if (orderable.isEmpty && extra.isEmpty) return (Unbounded, Nil)
    val aggs = orderable.flatMap(f =>
      Seq(min(col(f.name)).as(s"__lo_${f.name}"),
        max(col(f.name)).as(s"__hi_${f.name}")))
    val row = source.agg(count(lit(1)).as("__n"), (aggs.toSeq ++ extra): _*)
      .collect()(0) // one row
    val extras = row.toSeq.takeRight(extra.size)
    if (row.getAs[Long]("__n") == 0L) return (Empty, extras)
    val bounds = orderable.map { f =>
      (f, row.getAs[Any](s"__lo_${f.name}"), row.getAs[Any](s"__hi_${f.name}"))
    }
    val env =
      if (orderable.isEmpty) Unbounded
      else if (bounds.exists(b => b._2 == null || b._3 == null)) Unmatchable
      else Bounds(bounds.map { case (f, lo, hi) =>
        col(f.name) >= lit(lo) && col(f.name) <= lit(hi)
      }.reduce(_ && _))
    (env, extras)
  }
}
