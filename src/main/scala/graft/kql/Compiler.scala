package graft.kql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.KqlFunctions

/** Lowers a parsed KQL pipeline onto DataFrame transformations.
  *
  * Design stance (SURVEY §7.1): we do NOT rebuild the reference's iterator
  * engine or its 31 rewrite rules — the declarative DataFrame chain hands
  * Catalyst the whole plan, and predicate pushdown / column pruning /
  * partial-final aggregation / TakeOrderedAndProject replace
  * `miso-optimizations` wholesale. What this class encodes is miso's
  * *semantic quirks*:
  *
  *  - error-tolerant evaluation: per-row eval errors drop the row / null the
  *    field, never fail the query (`filter.rs:36-45`, `project.rs:57-61`) —
  *    compiled with `try_add`/`try_divide`/`try_cast`;
  *  - `/` always yields double (`interpreter/mod.rs:70-103`);
  *  - truthiness of non-boolean filter exprs (`value/mod.rs:479-492`);
  *  - summarize drops rows whose group key is null (`summarize.rs:151-153`);
  *  - sum/avg accumulate as f64 (`summarize.rs:580-596`);
  *  - KQL join column-collision suffixes + missing-key drops
  *    (`join.rs:57-86,183-185`);
  *  - timespans surface as long microseconds; timestamp±timespan arithmetic.
  */
final class Compiler(
    spark: SparkSession,
    catalog: Catalog,
    lets: Map[String, Query],
    streamFirstScan: Boolean = false,
    materializedLets: Set[String] = Set.empty) {

  import Expr._

  /** Optional row-error accumulator (reference `filter.rs:36-45`): when
    * set (the query server does, per session), every `try_*` lowering
    * site that can null a row — casts, todynamic parses, division — is
    * wrapped in [[graft.functions.ErrorCounted]] so silently-nulled rows
    * are counted in `/metrics`. None (the default, and always for the
    * gate/bench paths) compiles the unwrapped codegen-friendly form.
    */
  var errorCounter: Option[org.apache.spark.util.LongAccumulator] = None

  private def counted(tryResult: Column, original: Column): Column =
    errorCounter match {
      case Some(acc) =>
        import org.apache.spark.sql.GraftColumnBridge.{column, expression}
        column(graft.functions.ErrorCounted(
          expression(tryResult), expression(original), acc))
      case None => tryResult
    }

  // ───────────────────────── type tracking ─────────────────────────

  /** Lightweight type lattice for compile-time decisions (string concat vs
    * numeric add, timestamp vs numeric bin, truthiness shape). The analog of
    * the reference's runtime `type_tracker.rs`, resolved statically off the
    * DataFrame schema.
    */
  sealed trait KT
  private object KT {
    case object Int extends KT; case object Float extends KT
    case object Str extends KT; case object Bool extends KT
    case object Ts extends KT; case object Span extends KT
    case object Null extends KT; case object Arr extends KT
    /** A VariantType value (schemaless JSON — miso's native data model). */
    case object Var extends KT
    case object Other extends KT
  }

  private def ktOf(dt: DataType): KT = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => KT.Int
    case _: FloatType | _: DoubleType | _: DecimalType => KT.Float
    case _: StringType => KT.Str
    case _: BooleanType => KT.Bool
    case _: TimestampType | _: TimestampNTZType | _: DateType => KT.Ts
    case _: NullType => KT.Null
    case _: ArrayType => KT.Arr
    case _: VariantType => KT.Var
    case _ => KT.Other
  }

  /** Spark type a variant operand should be cast to when meeting a typed
    * peer — the static analog of miso's dynamic cross-type comparison.
    */
  private def sparkTypeFor(kt: KT): DataType = kt match {
    // numeric peers compare as double: a variant holding 1.5 must not be
    // truncated (or nulled) by a long cast when compared against an int
    case KT.Int | KT.Float | KT.Span => DoubleType
    case KT.Bool => BooleanType
    case KT.Ts => TimestampType
    case _ => StringType
  }

  /** Case-insensitive field lookup matching Spark's analyzer resolution —
    * `where Value` must get the same type-driven semantics as `where value`.
    */
  private def findField(fields: Seq[StructField], name: String): Option[StructField] =
    fields.find(_.name == name).orElse(fields.find(_.name.equalsIgnoreCase(name)))

  private def fieldType(df: DataFrame, path: FieldPath): KT = {
    def walk(dt: DataType, parts: Seq[FieldAccess]): KT = parts match {
      case Seq() => ktOf(dt)
      case head +: rest =>
        dt match {
          case _: VariantType => KT.Var // deeper paths stay variant
          case st: StructType =>
            findField(st.fields.toSeq, head.name) match {
              case Some(f) =>
                var t = f.dataType
                head.arrIndices.foreach { _ =>
                  t = t match { case a: ArrayType => a.elementType; case o => o }
                }
                walk(t, rest)
              case None => KT.Other
            }
          case _ => KT.Other
        }
    }
    val head = path.parts.head
    findField(df.schema.fields.toSeq, head.name) match {
      case Some(f) =>
        var t = f.dataType
        if (t.isInstanceOf[VariantType] &&
          (head.arrIndices.nonEmpty || path.parts.tail.nonEmpty)) return KT.Var
        head.arrIndices.foreach { _ =>
          t = t match { case a: ArrayType => a.elementType; case o => o }
        }
        walk(t, path.parts.tail)
      // a non-existent field is MISSING in the reference's schemaless model
      // — it evaluates as null everywhere, never an analysis error
      case None => KT.Null
    }
  }

  private def infer(df: DataFrame, e: Expr): KT = e match {
    case IntLit(_) => KT.Int
    case FloatLit(_) => KT.Float
    case BoolLit(_) => KT.Bool
    case StrLit(_) => KT.Str
    case NullLit => KT.Null
    case TimespanLit(_) => KT.Span
    case DatetimeLit(_) => KT.Ts
    case Field(p) => fieldType(df, p)
    // column wins over the let when both resolve (innermost scope)
    case LetRef(p, bound) =>
      if (df.columns.exists(_.equalsIgnoreCase(p.simpleName))) fieldType(df, p)
      else infer(df, bound)
    case And(_, _) | Or(_, _) | Not(_) | Cmp(_, _, _) | In(_, _, _) |
         Between(_, _, _, _) | StrOp(_, _, _, _) | Exists(_) => KT.Bool
    case Neg(x) => infer(df, x)
    case Arith(op, l, r) =>
      // variant operands resolve to double (or string beside a string peer)
      val lt0 = infer(df, l)
      val rt0 = infer(df, r)
      val lt = if (lt0 == KT.Var) { if (rt0 == KT.Str) KT.Str else KT.Float } else lt0
      val rt = if (rt0 == KT.Var) { if (lt0 == KT.Str) KT.Str else KT.Float } else rt0
      op match {
        case "/" => if (lt == KT.Span && rt == KT.Span) KT.Float else KT.Float
        case "+" | "-" =>
          if (lt == KT.Str || rt == KT.Str) KT.Str
          else if (lt == KT.Ts && rt == KT.Span) KT.Ts
          else if (op == "-" && lt == KT.Ts && rt == KT.Ts) KT.Span
          else if (lt == KT.Span || rt == KT.Span) KT.Span
          else if (lt == KT.Float || rt == KT.Float) KT.Float
          else KT.Int
        case "*" =>
          if (lt == KT.Span || rt == KT.Span) KT.Span
          else if (lt == KT.Float || rt == KT.Float) KT.Float
          else KT.Int
        case "%" =>
          if (lt == KT.Float || rt == KT.Float) KT.Float else KT.Int
      }
    case Case(branches, default) =>
      branches.headOption.map(b => infer(df, b._2)).getOrElse(infer(df, default))
    case Extract(_, _, _) => KT.Str
    case Bin(x, _) => infer(df, x)
    case Cast(kind, _) => kind match {
      case "tostring" => KT.Str
      case "toint" | "tolong" => KT.Int
      case "toreal" | "todouble" | "todecimal" => KT.Float
      case "tobool" | "toboolean" => KT.Bool
      case "todatetime" => KT.Ts
      case "totimespan" => KT.Span
      case "todynamic" => KT.Var
    }
    case StrCat(_) => KT.Str
    case TextFn(name, _) => name match {
      case "langid" => KT.Str
      case _ => KT.Int // tokencount / simhash / fingerprint
    }
    case ColumnIfExists(n, d) =>
      if (df.columns.exists(_.equalsIgnoreCase(n)))
        fieldType(df, FieldPath(Seq(FieldAccess(n))))
      else infer(df, d)
    case StrFn(name, _) => name match {
      case "strlen" | "countof" | "countof_re" | "hash" | "parse_ipv4" |
           "parse_version" | "strcmp" | "indexof_regex" |
           "string_size" => KT.Int
      case "ipv4_is_in_range" | "ipv4_is_private" | "ipv4_is_match" |
           "ipv6_is_match" | "ipv6_is_in_range" | "ipv4_is_in_any_range" |
           "has_ipv4" | "has_any_ipv4" | "has_ipv4_prefix" |
           "has_any_ipv4_prefix" => KT.Bool
      case "ipv6_compare" | "ipv4_compare" | "ipv4_netmask_suffix" => KT.Int
      case "around" | "assert" => KT.Bool
      case f if f.startsWith("convert_") => KT.Float
      case "erf" | "erfc" | "gamma" | "loggamma" | "welch_test" |
           "rand" => KT.Float
      case "new_guid" => KT.Str
      case "parse_user_agent" | "parse_urlquery" => KT.Var
      case "datetime_utc_to_local" | "datetime_local_to_utc" |
           "make_datetime" | "unixtime_seconds_todatetime" |
           "unixtime_milliseconds_todatetime" |
           "unixtime_microseconds_todatetime" |
           "unixtime_nanoseconds_todatetime" => KT.Ts
      case "make_timespan" => KT.Span
      case "isascii" | "has_ipv4" => KT.Bool
      case "unicode_codepoints_from_string" |
           "base64_decode_toarray" | "to_utf8" => KT.Arr
      case "extract_all" | "parse_csv" | "extract_groups" |
           "treepath" => KT.Arr
      case "parse_url" | "extract_json" | "parse_path" |
           "geo_geohash_to_central_point" | "parse_xml" => KT.Var
      case "has_any_index" => KT.Int
      case _ => KT.Str
    }
    case BinAt(x, _, _) => infer(df, x)
    case DtFn(name, _) => name match {
      case "startofday" | "startofhour" | "startofweek" | "startofmonth" |
           "startofyear" | "endofday" | "startofquarter" | "endofweek" |
           "endofmonth" | "endofyear" | "endofquarter" => KT.Ts
      case _ => KT.Int
    }
    case DtDiff(_, _, _) => KT.Int
    case DtAdd(_, _, _) => KT.Ts
    case NullFn(name, args) =>
      if (name == "coalesce") infer(df, args.head) else KT.Bool
    case MathFn(name, args) => name match {
      case "abs" => infer(df, args.head) match {
        case KT.Float => KT.Float
        case KT.Span  => KT.Span
        case _        => KT.Int
      }
      // ceiling keeps the argument's numeric class (Kusto: ceiling(1.1)
      // is 2.0 real, ceiling of a long is the long itself)
      case "ceiling" => infer(df, args.head) match {
        case KT.Float => KT.Float
        case _        => KT.Int
      }
      case "binary_and" | "binary_or" | "binary_xor" | "binary_not" |
          "binary_shift_left" | "binary_shift_right" |
          "bitset_count_ones" => KT.Int
      case "geo_point_in_circle" | "geo_point_in_polygon" => KT.Bool
      // variadic extrema follow their arguments: all-integral stays long
      case "min_of" | "max_of" =>
        if (args.forall(a => infer(df, a) == KT.Int)) KT.Int
        else infer(df, args.head)
      case _ => KT.Float
    }
    case ArrFn(name, args) => name match {
      case "split" => if (args.length == 3) KT.Str else KT.Arr
      case "array_length" | "indexof" | "array_index_of" => KT.Int
      case "repeat" | "zip" | "range_arr" => KT.Arr
      case "set_has_element" | "bag_has_key" => KT.Bool
      // multi-array co-sort returns a variant array-of-arrays
      case "array_sort_asc" | "array_sort_desc" if args.length > 1 => KT.Var
      case "array_sort_asc" | "array_sort_desc" | "array_reverse" |
          "array_concat" | "array_slice" | "set_union" | "set_intersect" |
          "set_difference" | "pack_array" | "bag_keys" |
          "array_shift_left" | "array_shift_right" |
          "array_rotate_left" | "array_rotate_right" | "array_iff" |
          "array_split" => KT.Arr
      case "array_sum" | "percentile_tdigest" | "jaccard_index" => KT.Float
      case "topk_estimate" => KT.Arr
      case "series_add" | "series_subtract" | "series_multiply" |
          "series_divide" | "series_abs" | "series_fir" |
          "series_fill_const" | "series_fill_forward" |
          "series_fill_backward" | "series_fill_linear" | "series_outliers" |
          "series_exp" | "series_log" | "series_sign" | "series_floor" |
          "series_ceiling" | "series_pow" | "series_greater" |
          "series_less" | "series_greater_equals" | "series_less_equals" |
          "series_equals" | "series_not_equals" |
          "series_seasonal" | "series_iir" |
          "series_decompose_forecast" => KT.Arr
      case "series_sum" | "series_min" | "series_max" | "series_avg" |
          "series_dot_product" | "series_magnitude" |
          "series_cosine_similarity" |
          "series_pearson_correlation" |
          "geo_line_length" | "geo_polygon_perimeter" |
          "geo_polygon_area" => KT.Float
      case "series_fit_line_dynamic" | "series_fit_2lines_dynamic" |
          "series_decompose" |
          "series_decompose_anomalies" | "series_periods_detect" => KT.Var
      case "dcount_hll" => KT.Int
      case "estimate_data_size" => KT.Int
      case "bag_pack" | "pack_all" | "bag_pack_columns" |
          "series_stats_dynamic" |
          "bag_merge" | "bag_remove_keys" | "bag_set_key" | "bag_zip" => KT.Var
      case _ => KT.Str // strcat_delim / strcat_array
    }
    case WinFn(name, args) => name match {
      case "row_number" | "row_rank_dense" | "row_rank_min" => KT.Int
      case "row_window_session" => KT.Ts
      case _ => infer(df, args.head) // prev/next/row_cumsum follow their arg
    }
    case TupleGet(e, i) =>
      tupleStructType(df, e) match {
        case s: org.apache.spark.sql.types.StructType if i < s.length =>
          ktOf(s(i).dataType)
        case _ => KT.Str
      }
    case ToScalar(q) => toScalarValue(q) match {
      case _: java.lang.Long | _: java.lang.Integer => KT.Int
      case _: java.lang.Double => KT.Float
      case _: java.lang.Boolean => KT.Bool
      case _: java.sql.Timestamp | _: java.time.Instant => KT.Ts
      case _ => KT.Str
    }
  }

  // ───────────────────────── expression lowering ─────────────────────────

  /** Schema-aware field access: when the path descends into a VariantType
    * column (schemaless JSON — miso's native model), the remaining segments
    * compile to `try_variant_get` with a JSON path; a missing key yields
    * null, exactly miso's missing semantics. JSON-null values remain
    * non-null variant instances, so `exists()` keeps miso's null≠missing
    * distinction for free.
    */
  def compileField(df: DataFrame, path: FieldPath): Column = {
    def jsonPath(leadIdx: Seq[Int], parts: Seq[FieldAccess]): String = {
      val sb = new StringBuilder("$")
      leadIdx.foreach(i => sb ++= s"[$i]")
      parts.foreach { p =>
        sb ++= "." + p.name
        p.arrIndices.foreach(i => sb ++= s"[$i]")
      }
      sb.toString
    }
    val head = path.parts.head
    val headField = findField(df.schema.fields.toSeq, head.name)
    // missing field ≡ null (the reference's schemaless model: referencing
    // an absent key yields "missing", which our fixed schemas fold to null)
    if (headField.isEmpty) return lit(null)
    var dt: Option[DataType] = headField.map(_.dataType)
    var c: Column = col(head.name)
    if (dt.exists(_.isInstanceOf[VariantType]) &&
        (head.arrIndices.nonEmpty || path.parts.tail.nonEmpty))
      return try_variant_get(c, jsonPath(head.arrIndices, path.parts.tail), "variant")
    head.arrIndices.foreach { i =>
      c = get(c, lit(i))
      dt = dt.map { case a: ArrayType => a.elementType; case o => o }
    }
    var rest = path.parts.tail
    while (rest.nonEmpty) {
      if (dt.exists(_.isInstanceOf[VariantType]))
        return try_variant_get(c, jsonPath(Nil, rest), "variant")
      val part = rest.head
      c = c.getField(part.name)
      dt = dt.flatMap {
        case st: StructType => findField(st.fields.toSeq, part.name).map(_.dataType)
        case _ => None
      }
      if (dt.exists(_.isInstanceOf[VariantType]) && part.arrIndices.nonEmpty)
        return try_variant_get(c, jsonPath(part.arrIndices, rest.tail), "variant")
      part.arrIndices.foreach { i =>
        c = get(c, lit(i))
        dt = dt.map { case a: ArrayType => a.elementType; case o => o }
      }
      rest = rest.tail
    }
    c
  }

  /** KQL truthiness (`value/mod.rs:479-492`): non-zero / non-empty / non-null. */
  private def truthy(df: DataFrame, e: Expr, c: Column): Column = infer(df, e) match {
    case KT.Bool => c
    case KT.Int | KT.Float | KT.Span => c =!= 0
    case KT.Str => length(c) > 0
    case KT.Arr => size(c) > 0
    case KT.Null => lit(false)
    case KT.Var =>
      // per-runtime-type dispatch via schema_of_variant, replicating the
      // reference's to_bool (value/mod.rs:479-492): a string is truthy iff
      // non-empty ("0"/"false" are truthy strings!), bool → itself,
      // numbers → non-zero, JSON null (VOID) / missing → false,
      // arrays/objects → present ⇒ truthy
      val t = schema_of_variant(c)
      when(t === "STRING", length(c.try_cast(StringType)) > 0)
        .when(t === "BOOLEAN", c.try_cast(BooleanType))
        .when(t === "VOID", lit(false))
        .when(t.startsWith("DECIMAL") ||
          t.isin("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT"),
          c.try_cast(DoubleType) =!= 0)
        .otherwise(c.isNotNull)
    case _ => c.isNotNull
  }

  def compileBool(df: DataFrame, e: Expr): Column = truthy(df, e, compile(df, e))

  /** Comparisons under the reference's total order (`value/mod.rs:146-209`):
    * Null is an ordinary value that sorts BEFORE everything, so
    * `null == null` is true, `null <= 5` is true, `null >= 5` is false.
    * SQL three-valued logic would drop all of these rows; the reference's
    * test corpus asserts the total-order behavior explicitly
    * (null_in_lte_operator, in_operator_with_null_in_list,
    * between_null_endpoints).
    *
    * Pushdown-aware lowering: a null operand only makes the predicate TRUE
    * when null sits on the "small" side (`null < x`, `x > null`) or both
    * sides are null. When the side that could flip the result is a non-null
    * literal, the plain SQL comparison is semantically identical (null →
    * false either way) and stays pushable to the parquet scan; the guarded
    * CASE form is emitted only when it is actually needed.
    */
  private def nonNullLiteral(e: Expr): Boolean = e match {
    case IntLit(_) | FloatLit(_) | BoolLit(_) | StrLit(_) |
         TimespanLit(_) | DatetimeLit(_) => true
    case _ => false
  }

  private def totalOrderCmp(
      op: String, l: Expr, r: Expr, lc: Column, rc: Column): Column = op match {
    case "==" => lc <=> rc // EqualNullSafe is parquet-pushable
    case "!=" => !(lc <=> rc) // null != literal is TRUE under the total order
    // The literal shortcuts conjoin isNotNull so the predicate is
    // two-valued (never SQL-null): negation contexts (!in, !between, not())
    // must see `false`, not null, to keep total-order semantics. Both
    // conjuncts remain parquet-pushable.
    case "<" =>
      if (nonNullLiteral(l)) (lc < rc) && rc.isNotNull
      else when(lc.isNull, rc.isNotNull).when(rc.isNull, lit(false)).otherwise(lc < rc)
    case "<=" =>
      if (nonNullLiteral(l)) (lc <= rc) && rc.isNotNull
      else when(lc.isNull, lit(true)).when(rc.isNull, lit(false)).otherwise(lc <= rc)
    case ">" =>
      if (nonNullLiteral(r)) (lc > rc) && lc.isNotNull
      else when(rc.isNull, lc.isNotNull).when(lc.isNull, lit(false)).otherwise(lc > rc)
    case ">=" =>
      if (nonNullLiteral(r)) (lc >= rc) && lc.isNotNull
      else when(rc.isNull, lit(true)).when(lc.isNull, lit(false)).otherwise(lc >= rc)
  }

  def compile(df: DataFrame, e: Expr): Column = e match {
    case IntLit(v) => lit(v)
    case FloatLit(v) => lit(v)
    case BoolLit(v) => lit(v)
    case StrLit(v) => lit(v)
    case NullLit => lit(null)
    case TimespanLit(m) => lit(m)
    case DatetimeLit(m) => timestamp_micros(lit(m))
    case Field(p) => compileField(df, p)
    // a name that is both a scalar let and (possibly) a column: the column
    // takes precedence (Kusto innermost-scope resolution); the let's bound
    // expression is compiled only when no column of that name exists
    case LetRef(p, bound) =>
      if (df.columns.exists(_.equalsIgnoreCase(p.simpleName))) compileField(df, p)
      else compile(df, bound)

    case And(l, r) => compileBool(df, l) && compileBool(df, r)
    case Or(l, r) => compileBool(df, l) || compileBool(df, r)
    case Not(x) => !compileBool(df, x)

    case Cmp(op, l, r) =>
      val (lt, rt) = (infer(df, l), infer(df, r))
      var (lc, rc) = (compile(df, l), compile(df, r))
      // variant operands are cast to the typed peer's type (both → string
      // when both dynamic) — the static analog of miso's cross-type compare
      if (lt == KT.Var && rt != KT.Var) lc = lc.try_cast(sparkTypeFor(rt))
      else if (rt == KT.Var && lt != KT.Var) rc = rc.try_cast(sparkTypeFor(lt))
      else if (lt == KT.Var && rt == KT.Var) {
        lc = lc.try_cast(StringType); rc = rc.try_cast(StringType)
      }
      totalOrderCmp(op, l, r, lc, rc)

    case Neg(x) => -compile(df, x)

    case Arith(op, l, r) =>
      var (lt, rt) = (infer(df, l), infer(df, r))
      var (lc, rc) = (compile(df, l), compile(df, r))
      // variant operands: string context → string, else numeric double
      if (lt == KT.Var) {
        if (rt == KT.Str) { lc = lc.try_cast(StringType); lt = KT.Str }
        else { lc = lc.try_cast(DoubleType); lt = KT.Float }
      }
      if (rt == KT.Var) {
        if (lt == KT.Str) { rc = rc.try_cast(StringType); rt = KT.Str }
        else { rc = rc.try_cast(DoubleType); rt = KT.Float }
      }
      op match {
        case "/" =>
          // `/` always yields float; ÷0 is a row error ⇒ null ⇒ dropped.
          // The error witness is "both inputs were non-null": a null
          // flowing IN is not a row error, ÷0 with live operands is.
          counted(
            try_divide(lc.cast(DoubleType), rc.cast(DoubleType)),
            when(lc.isNotNull && rc.isNotNull, lit(1)))
        case "+" =>
          if (lt == KT.Str || rt == KT.Str) concat(lc.cast(StringType), rc.cast(StringType))
          else if (lt == KT.Ts && rt == KT.Span)
            timestamp_micros(try_add(unix_micros(lc), rc))
          else if (lt == KT.Span && rt == KT.Ts)
            timestamp_micros(try_add(unix_micros(rc), lc))
          else try_add(lc, rc)
        case "-" =>
          if (lt == KT.Ts && rt == KT.Span)
            timestamp_micros(try_subtract(unix_micros(lc), rc))
          else if (lt == KT.Ts && rt == KT.Ts)
            try_subtract(unix_micros(lc), unix_micros(rc))
          else try_subtract(lc, rc)
        case "*" => try_multiply(lc, rc)
        case "%" =>
          // C-style sign (follows the dividend) — Kusto's rule and
          // Spark's; mod-by-0 is a row error ⇒ null, counted like ÷0
          counted(try_mod(lc, rc),
            when(lc.isNotNull && rc.isNotNull, lit(1)))
      }

    case In(x, items, negated) =>
      var xc = compile(df, x)
      if (infer(df, x) == KT.Var)
        xc = xc.try_cast(sparkTypeFor(items.headOption.map(infer(df, _)).getOrElse(KT.Str)))
      // null-safe equality: `x in (1, null, 3)` matches null x
      // (tests.rs:1954 — Null is an ordinary comparable value)
      val pred = items.map(i => xc <=> compile(df, i)).reduce(_ || _)
      if (negated) !pred else pred

    case Between(x, lo, hi, negated) =>
      var xc = compile(df, x)
      if (infer(df, x) == KT.Var) xc = xc.try_cast(sparkTypeFor(infer(df, lo)))
      val pred = totalOrderCmp(">=", x, lo, xc, compile(df, lo)) &&
        totalOrderCmp("<=", x, hi, xc, compile(df, hi))
      if (negated) !pred else pred

    case StrOp(op, l, r, negated) =>
      val lc =
        if (infer(df, l) == KT.Var) compile(df, l).try_cast(StringType)
        else compile(df, l)
      val pred = (op, r) match {
        case ("contains", _) => lc.contains(compile(df, r))
        case ("startswith", _) => lc.startsWith(compile(df, r))
        case ("endswith", _) => lc.endsWith(compile(df, r))
        case ("has", StrLit(s)) => KqlFunctions.has(lc, s)
        case ("has_cs", StrLit(s)) => KqlFunctions.hasCs(lc, s)
        case ("matches_regex", StrLit(s)) => lc.cast(StringType).rlike(s)
        // case-insensitive equality (=~ / !~): both sides lowercased.
        // Null-safe like == (Cmp lowers via <=>): negation contexts must
        // see false, not null, or !~ would silently drop null rows
        case ("=~", _) =>
          lower(lc.cast(StringType)) <=> lower(compile(df, r).cast(StringType))
        case ("has" | "has_cs", _) =>
          throw KqlParseException(s"'$op' requires a string literal phrase", 0)
        case ("matches_regex", _) =>
          throw KqlParseException("'matches regex' requires a literal pattern", 0)
      }
      if (negated) !pred else pred

    case Case(branches, default) =>
      val start = when(compileBool(df, branches.head._1), compile(df, branches.head._2))
      branches.tail
        .foldLeft(start) { case (acc, (c, v)) =>
          acc.when(compileBool(df, c), compile(df, v))
        }
        .otherwise(compile(df, default))

    case Extract(regex, group, src) =>
      KqlFunctions.extractOrNull(compile(df, src), regex, group)

    case Bin(x, width) =>
      val xc = compile(df, x)
      (infer(df, x), width) match {
        case (KT.Ts, TimespanLit(m)) => KqlFunctions.binTime(xc, m)
        case (KT.Ts, IntLit(sec)) => KqlFunctions.binTime(xc, sec * 1000000L)
        case (KT.Int, IntLit(w)) =>
          (floor(xc.cast(DoubleType) / lit(w.toDouble)).cast(LongType)) * lit(w)
        case (KT.Var, IntLit(w)) => KqlFunctions.binNum(xc.try_cast(DoubleType), w.toDouble)
        case (KT.Var, FloatLit(w)) => KqlFunctions.binNum(xc.try_cast(DoubleType), w)
        case (_, IntLit(w)) => KqlFunctions.binNum(xc, w.toDouble)
        case (_, FloatLit(w)) => KqlFunctions.binNum(xc, w)
        case (KT.Span, TimespanLit(m)) =>
          (floor(xc.cast(DoubleType) / lit(m.toDouble)).cast(LongType)) * lit(m)
        case _ => throw KqlParseException("bin() width must be a literal", 0)
      }

    case Cast(kind, x) =>
      val xc = compile(df, x)
      kind match {
        // timespans render in Kusto's clock shape ([d.]hh:mm:ss with a
        // 7-digit fraction when sub-second), not as their micros carrier
        case "tostring" if infer(df, x) == KT.Span =>
          val sp = xc.try_cast(LongType)
          val a = abs(sp)
          def pad2(c: Column): Column =
            lpad(c.cast(LongType).cast(StringType), 2, "0")
          val days = (a / lit(86400000000L)).cast(LongType)
          val frac = a % 1000000L
          when(sp.isNotNull, concat(
            when(sp < 0, lit("-")).otherwise(lit("")),
            when(days > 0, concat(days.cast(StringType), lit(".")))
              .otherwise(lit("")),
            pad2((a / 3600000000L).cast(LongType) % 24), lit(":"),
            pad2((a / 60000000L).cast(LongType) % 60), lit(":"),
            pad2((a / 1000000L).cast(LongType) % 60),
            when(frac > 0,
              concat(lit("."), lpad(frac.cast(StringType), 6, "0"), lit("0")))
              .otherwise(lit(""))))
        case "tostring" => xc.cast(StringType)
        case "toint" | "tolong" => counted(xc.try_cast(LongType), xc)
        case "toreal" | "todouble" | "todecimal" =>
          counted(xc.try_cast(DoubleType), xc)
        case "tobool" | "toboolean" => counted(xc.try_cast(BooleanType), xc)
        case "todatetime" => counted(xc.try_cast(TimestampType), xc)
        // totimespan: Kusto timespan text → long micros (this engine's
        // timespan carrier). Accepted forms, all regex-arithmetic so the
        // oracle replays them: "[d.]hh:mm:ss[.fff]" and "<n><unit>" with
        // unit ∈ d h m s ms (the literal suffixes); a plain numeric means
        // DAYS (Kusto's rule). Malformed → null (row-error policy)
        case "totimespan" =>
          val s0 = trim(xc.cast(StringType))
          def re(g: Int): Column =
            regexp_extract(s0, "^(?:(\\d+)\\.)?(\\d+):(\\d+):(\\d+(?:\\.\\d+)?)$", g)
          val clock =
            when(s0.rlike("^(?:\\d+\\.)?\\d+:\\d+:\\d+(?:\\.\\d+)?$"),
              (coalesce(re(1).try_cast(LongType), lit(0L)) * 86400000000L) +
                re(2).try_cast(LongType) * 3600000000L +
                re(3).try_cast(LongType) * 60000000L +
                (re(4).try_cast(DoubleType) * 1e6).cast(LongType))
          val unitVal = regexp_extract(s0, "^(\\d+(?:\\.\\d+)?)(d|h|m|s|ms)$", 1)
            .try_cast(DoubleType)
          val unit = regexp_extract(s0, "^(\\d+(?:\\.\\d+)?)(d|h|m|s|ms)$", 2)
          val unitMicros = when(unit === "d", 86400000000L)
            .when(unit === "h", 3600000000L).when(unit === "m", 60000000L)
            .when(unit === "s", 1000000L).when(unit === "ms", 1000L)
          val suffixed = when(unitMicros.isNotNull && unitVal.isNotNull,
            (unitVal * unitMicros).cast(LongType))
          val plainDays = (s0.try_cast(DoubleType) * 86400000000L)
            .cast(LongType)
          // a value that is ALREADY a timespan passes through; numeric
          // input (and numeric text) means days, Kusto's rule
          if (infer(df, x) == KT.Span) xc
          else counted(coalesce(clock, suffixed, plainDays), xc)
        // (row-error-drop policy), and the result flows through the same
        // variant field-path/truthiness machinery as native variant columns
        case "todynamic" => counted(try_parse_json(xc.cast(StringType)), xc)
      }

    case Exists(x) => compile(df, x).isNotNull

    case ColumnIfExists(n, d) =>
      df.columns.find(_.equalsIgnoreCase(n)) match {
        case Some(actual) => col(s"`$actual`")
        case None => compile(df, d)
      }

    case StrCat(args) => concat(args.map(a => compile(df, a).cast(StringType)): _*)

    // text-pipeline scalars (beyond the reference's closed function set):
    // each lowers to the same native single-pass kernel the DataFrame API
    // uses, so KQL queries and DataFrame pipelines agree bit-for-bit
    case TextFn(name, x) =>
      val xc = compile(df, x).cast(StringType)
      name match {
        case "tokencount" =>
          graft.functions.TextAnalysis.tokenCount(xc).cast(LongType)
        case "simhash" =>
          graft.functions.Dedup.simhash(graft.functions.TextAnalysis.tokens(xc))
        case "fingerprint" => graft.functions.TextAnalysis.fingerprint(xc)
        case "langid" => graft.functions.TextAnalysis.langId(xc)
      }

    case StrFn(name, args) =>
      def validatedZone(e: Expr): String = e match {
        case StrLit(z) =>
          try { java.time.ZoneId.of(z); z }
          catch { case _: Exception =>
            throw KqlParseException(s"unknown timezone '$z'", 0) }
        case _ =>
          throw KqlParseException("timezone must be a string literal", 0)
      }
      val cs = args.map(a => compile(df, a))
      name match {
        case "strlen" => length(cs.head.cast(StringType)).cast(LongType)
        case "tolower" => lower(cs.head.cast(StringType))
        case "toupper" => upper(cs.head.cast(StringType))
        case "trim" => trim(cs.head.cast(StringType))
        case "substring" =>
          // KQL substring is 0-based with a negative start clamped to 0;
          // Spark's is 1-based
          val start = greatest(cs(1).try_cast(LongType), lit(0L)) + lit(1L)
          val len =
            if (cs.length == 3) cs(2).try_cast(LongType)
            else lit(Int.MaxValue.toLong)
          cs.head.cast(StringType).substr(start.cast(IntegerType), len.cast(IntegerType))
        case "replace_string" =>
          replace(cs.head.cast(StringType),
            cs(1).cast(StringType), cs(2).cast(StringType))
        // Kusto format patterns map almost 1:1 onto Java's date patterns;
        // the differing pieces translate (f/F fraction → S, tt → a).
        // Supported subset: y M d H h m s f F t plus separators.
        case "format_datetime" =>
          val kustoPat = args(1) match {
            case StrLit(s) => s
            case _ => throw KqlParseException(
              "format_datetime() format must be a string literal", 0)
          }
          val javaPat = kustoPat
            .replace("tt", "a").replace("F", "S").replace("f", "S")
          date_format(cs.head.try_cast(TimestampType), javaPat)
        // OVERLAPPING occurrence count (Kusto's plain-kind rule:
        // countof('aaa','aa') = 2) through the per-position kernel — the
        // former replace-length lowering counted non-overlapping and was
        // a documented deviation, now closed
        case "countof" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.CountOfOverlap(
            expression(cs.head.cast(StringType)),
            expression(cs(1).cast(StringType))))
        }
        // regex kind: non-overlapping match count (regexp_count's rule,
        // same as the literal form's)
        case "countof_re" =>
          regexp_count(cs.head.cast(StringType),
            lit(args(1).asInstanceOf[StrLit].v)).cast(LongType)
        case "reverse" => reverse(cs.head.cast(StringType))
        // 0-based first-match position, -1 when absent (regexp_instr is
        // 1-based with 0-for-no-match)
        case "indexof_regex" =>
          (regexp_instr(cs.head.cast(StringType),
            lit(args(1).asInstanceOf[StrLit].v)) - lit(1)).cast(LongType)
        // byte length (UTF-8), vs strlen's character count
        case "string_size" =>
          octet_length(cs.head.cast(StringType)).cast(LongType)
        // escape every regex metacharacter so the result matches the
        // input literally when embedded in a pattern
        case "regex_quote" =>
          regexp_replace(cs.head.cast(StringType),
            lit("""([\\.\[\]{}()*+?^$|\-/])"""), lit("""\\$1"""))
        // one CSV record → array of fields: split on commas outside
        // double quotes, then strip wrapping quotes and unescape "".
        // Single-record contract (no embedded newlines), like a row of
        // a well-formed csv file; documented deviation from Kusto's
        // multi-record form.
        case "parse_csv" =>
          val fields = split(cs.head.cast(StringType),
            """,(?=(?:[^"]*"[^"]*")*[^"]*$)""", -1)
          transform(fields, f => {
            val unq = regexp_replace(f, lit("^\"(.*)\"$"), lit("$1"))
            regexp_replace(unq, lit("\"\""), lit("\""))
          })
        // form-encoding (space → '+', URLEncoder rules); the _component
        // variant percent-encodes spaces instead, the encodeURIComponent
        // shape DuckDB's url_encode also produces
        // power-of-1024 unit selection (Bytes…EB), fixed precision via
        // format_string — Kusto's rendering ("1 KB", default precision 0)
        case "format_bytes" =>
          val v = cs.head.try_cast(DoubleType)
          val p = args.lift(1) match {
            case Some(IntLit(x)) => x.toInt
            case _ => 0
          }
          val units = Seq("Bytes", "KB", "MB", "GB", "TB", "PB", "EB")
          // ascending fold so the LARGEST matching unit ends up as the
          // outermost when()
          (1 to 6).foldLeft[Column](
            format_string(s"%.${p}f Bytes", v)) { (acc, i) =>
            val scale = math.pow(1024.0, i)
            when(abs(v) >= lit(scale),
              format_string(s"%.${p}f ${units(i)}", v / lit(scale)))
              .otherwise(acc)
          }
        // wall-clock shifts between UTC and a named zone (session TZ is
        // UTC, so the stored instant reads as UTC wall time); the zone is
        // a literal, validated at compile
        case "datetime_utc_to_local" =>
          from_utc_timestamp(cs.head.try_cast(TimestampType),
            validatedZone(args(1)))
        case "datetime_local_to_utc" =>
          to_utc_timestamp(cs.head.try_cast(TimestampType),
            validatedZone(args(1)))
        // calendar constructor: out-of-range components → null (the try_
        // builder — Kusto likewise nulls invalid dates). Session TZ is
        // UTC, so _ltz lands on the same instant DuckDB's make_timestamp
        // produces. Fractional seconds ride the DECIMAL(16,6) seconds arg
        case "make_datetime" =>
          val h = if (cs.length > 3) cs(3).try_cast(IntegerType) else lit(0)
          val mi = if (cs.length > 4) cs(4).try_cast(IntegerType) else lit(0)
          val s = if (cs.length > 5) cs(5).try_cast(DecimalType(16, 6))
                  else lit(java.math.BigDecimal.ZERO).cast(DecimalType(16, 6))
          try_make_timestamp_ltz(
            cs(0).try_cast(IntegerType), cs(1).try_cast(IntegerType),
            cs(2).try_cast(IntegerType), h, mi, s)
        // timespan constructor → long micros (this engine's span carrier);
        // all components may be fractional reals, like Kusto's
        case "make_timespan" =>
          val parts: Seq[(Column, Long)] = cs.length match {
            case 2 => Seq(cs(0) -> 3600000000L, cs(1) -> 60000000L)
            case 3 => Seq(cs(0) -> 3600000000L, cs(1) -> 60000000L,
              cs(2) -> 1000000L)
            case _ => Seq(cs(0) -> 86400000000L, cs(1) -> 3600000000L,
              cs(2) -> 60000000L, cs(3) -> 1000000L)
          }
          parts.map { case (c, u) =>
            (c.try_cast(DoubleType) * lit(u.toDouble)).cast(LongType)
          }.reduce(_ + _)
        // epoch converters. seconds/millis accept fractional input
        // (round to this engine's µs tick); micros/nanos are exact
        // integer arithmetic — nanos uses integral `div`, double division
        // would lose µs ULPs at epoch-nano magnitudes (~1.7e18 > 2^53)
        case "unixtime_seconds_todatetime" =>
          timestamp_micros(
            round(cs.head.try_cast(DoubleType) * lit(1e6)).cast(LongType))
        case "unixtime_milliseconds_todatetime" =>
          timestamp_micros(
            round(cs.head.try_cast(DoubleType) * lit(1e3)).cast(LongType))
        case "unixtime_microseconds_todatetime" =>
          timestamp_micros(cs.head.try_cast(LongType))
        case "unixtime_nanoseconds_todatetime" =>
          timestamp_micros(
            call_function("div", cs.head.try_cast(LongType), lit(1000L)))
        // cryptographic digest family (lowercase hex, Kusto's rendering)
        case "hash_sha256" => sha2(cs.head.cast(StringType), 256)
        case "hash_sha1" => sha1(cs.head.cast(StringType))
        case "hash_md5" => md5(cs.head.cast(StringType))
        // GUID normalization: accept braced/parenthesized/dashed/bare hex
        // forms, emit canonical lowercase 8-4-4-4-12; anything else →
        // null. Pure regex+substr lowering, oracle-replayable
        case "toguid" =>
          val t = lower(trim(cs.head.cast(StringType)))
          val inner = regexp_replace(t, lit("^[\\{\\(]|[\\)\\}]$"), lit(""))
          val hex = replace(inner, lit("-"), lit(""))
          val canon = when(
            hex.rlike("^[0-9a-f]{32}$") &&
              (inner.rlike("^[0-9a-f]{32}$") ||
                inner.rlike("^[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$")),
            concat_ws("-",
              substring(hex, 1, 8), substring(hex, 9, 4),
              substring(hex, 13, 4), substring(hex, 17, 4),
              substring(hex, 21, 12)))
          canon
        // ASCII iff the UTF-8 byte length equals the char length (any
        // codepoint > 127 encodes multi-byte)
        case "isascii" =>
          val s0 = cs.head.cast(StringType)
          octet_length(s0) === length(s0)
        case "unicode_codepoints_from_string" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TextCodecExpr(
            expression(cs.head.cast(StringType)), "cp_from"))
        }
        case "unicode_codepoints_to_string" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          // flatten the variadic form: each arg is a codepoint or an
          // array of codepoints; singles wrap to 1-element arrays
          val arrs = args.zip(cs).map { case (a, c) =>
            infer(df, a) match {
              case KT.Arr => c.try_cast(ArrayType(LongType))
              case KT.Var => transform(
                c.try_cast(ArrayType(VariantType)),
                e => e.try_cast(LongType))
              case _ => array(c.try_cast(LongType))
            }
          }
          val flat = if (arrs.length == 1) arrs.head
                     else flatten(array(arrs: _*))
          column(graft.functions.TextCodecExpr(expression(flat), "cp_to"))
        }
        // parse_user_agent (documented subset of ADX's uap-core tables —
        // the full regex corpus is a moving database; these are the
        // stable headline families, first match wins, all RE2-safe so
        // the oracle replays them):
        //   browser: Edg/ → Edge, OPR/|Opera → Opera, Chrome/ → Chrome,
        //     Firefox/ → Firefox, Version/+Safari → Safari,
        //     MSIE|Trident → IE, else Other; MajorVersion extracted
        //   os: Windows NT → Windows, Android → Android, iPhone|iPad →
        //     iOS, Mac OS X → macOS, Linux → Linux, else Other
        case "parse_user_agent" =>
          val ua = cs.head.cast(StringType)
          val kind = args.lift(1) match {
            case Some(StrLit(k @ ("browser" | "os"))) => k
            case None => "browser"
            case _ => throw KqlParseException(
              "parse_user_agent() kind must be 'browser' or 'os'", 0)
          }
          def ver(marker: String): Column =
            regexp_extract(ua, marker + "([0-9]+)", 1)
          if (kind == "browser") {
            val fam = when(ua.contains("Edg/"), "Edge")
              .when(ua.contains("OPR/") || ua.contains("Opera"), "Opera")
              .when(ua.contains("Chrome/"), "Chrome")
              .when(ua.contains("Firefox/"), "Firefox")
              .when(ua.contains("Version/") && ua.contains("Safari"),
                "Safari")
              .when(ua.contains("MSIE") || ua.contains("Trident/"), "IE")
              .otherwise("Other")
            val major = when(ua.contains("Edg/"), ver("Edg/"))
              .when(ua.contains("OPR/"), ver("OPR/"))
              .when(ua.contains("Chrome/"), ver("Chrome/"))
              .when(ua.contains("Firefox/"), ver("Firefox/"))
              .when(ua.contains("Version/") && ua.contains("Safari"),
                ver("Version/"))
              .when(ua.contains("MSIE"), ver("MSIE "))
              .otherwise(lit(""))
            try_parse_json(to_json(struct(struct(
              fam.as("Family"), major.as("MajorVersion")).as("Browser"))))
          } else {
            val fam = when(ua.contains("Windows NT"), "Windows")
              .when(ua.contains("Android"), "Android")
              .when(ua.contains("iPhone") || ua.contains("iPad"), "iOS")
              .when(ua.contains("Mac OS X"), "macOS")
              .when(ua.contains("Linux"), "Linux")
              .otherwise("Other")
            try_parse_json(to_json(struct(struct(
              fam.as("Family")).as("OperatingSystem"))))
          }
        case "punycode_domain_from_string" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TextCodecExpr(
            expression(cs.head.cast(StringType)), "puny_from"))
        }
        case "punycode_domain_to_string" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TextCodecExpr(
            expression(cs.head.cast(StringType)), "puny_to"))
        }
        case "base64_decode_toarray" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TextCodecExpr(
            expression(cs.head.cast(StringType)), "b64_to_arr"))
        }
        case "base64_encode_fromarray" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TextCodecExpr(
            expression(cs.head.try_cast(ArrayType(LongType))), "b64_from_arr"))
        }
        // compression codec family (round-trip contract, Ast note on
        // cross-build byte variance)
        case "gzip_compress_to_base64_string" |
            "gzip_decompress_from_base64_string" |
            "zlib_compress_to_base64_string" |
            "zlib_decompress_from_base64_string" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val op = name match {
            case "gzip_compress_to_base64_string" => "gzip_c"
            case "gzip_decompress_from_base64_string" => "gzip_d"
            case "zlib_compress_to_base64_string" => "zlib_c"
            case _ => "zlib_d"
          }
          column(graft.functions.CodecExpr(
            expression(cs.head.cast(StringType)), op))
        }
        // JSONPath extraction to a variant (Kusto's dynamic):
        // get_json_object returns the matched element's JSON text
        case "extract_json" =>
          try_parse_json(get_json_object(
            cs(1).cast(StringType), args.head.asInstanceOf[StrLit].v))
        // file-path decomposition into Kusto's component bag; both / and \
        // separate, drive/UNC/rooted prefixes become RootPath, the
        // Windows alternate data stream (file.txt:ads) splits off the
        // filename
        case "parse_path" =>
          val p0 = cs.head.cast(StringType)
          val norm = replace(p0, lit("\\"), lit("/"))
          val fileFull = regexp_extract(norm, "([^/]*)$", 1)
          val ads = regexp_extract(fileFull, "^[^:]*:(.*)$", 1)
          val file = regexp_extract(fileFull, "^([^:]*)", 1)
          val dirPath = when(norm.contains("/"),
            regexp_extract(norm, "^(.*)/[^/]*$", 1)).otherwise(lit(""))
          val dirName = regexp_extract(dirPath, "([^/]*)$", 1)
          val ext = when(file.rlike("\\.[^.]+$"),
            regexp_extract(file, "\\.([^.]+)$", 1)).otherwise(lit(""))
          val root = when(p0.rlike("^[A-Za-z]:"),
            regexp_extract(p0, "^([A-Za-z]:)", 1))
            .when(p0.startsWith("\\\\"),
              regexp_extract(replace(p0, lit("\\"), lit("/")),
                "^(//[^/]+/[^/]+)", 1))
            .when(p0.startsWith("/"), lit("/"))
            .otherwise(lit(""))
          try_parse_json(to_json(struct(
            ads.as("AlternateDataStreamName"),
            dirName.as("DirectoryName"),
            dirPath.as("DirectoryPath"),
            ext.as("Extension"),
            file.as("Filename"),
            root.as("RootPath"))))
        // 0-based index of the first values[] element the source `has`
        // (term semantics, same kernel as the has predicate); -1 when none
        case "has_any_index" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val src = cs.head.cast(StringType)
          val vals = cs(1)
          val hits = filter(
            transform(vals, (v, i) =>
              when(column(graft.functions.HasPhrase(
                expression(src), expression(v.cast(StringType)),
                caseSensitive = false)), i.cast(LongType))),
            x => x.isNotNull)
          coalesce(array_min(hits), lit(-1L))
        }
        // geohash codec (kernel — Geo.scala); default precision 5 like
        // Kusto's geo_geohash
        case "geo_geohash" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val prec = args.lift(2) match {
            case Some(IntLit(p)) => p.toInt
            case _ => 5
          }
          column(graft.functions.GeoHashEncode(
            expression(cs.head.try_cast(DoubleType)),
            expression(cs(1).try_cast(DoubleType)), prec))
        }
        case "geo_geohash_to_central_point" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          try_parse_json(column(graft.functions.GeoHashCenter(
            expression(cs.head.cast(StringType)))))
        }
        // IPv6 family — strict textual kernel (Ipv6.scala), canonical
        // full-form output; IPv4 literals accepted as ::ffff-mapped
        case "parse_ipv6" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.Ipv6Canonical(
            expression(cs.head.cast(StringType))))
        }
        case "ipv6_compare" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.Ipv6Cmp(
            expression(cs.head.cast(StringType)),
            expression(cs(1).cast(StringType)), prefix = -1))
        }
        case "ipv6_is_match" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val prefix = args.lift(2) match {
            case Some(IntLit(p)) => p.toInt
            case _ => 128
          }
          column(graft.functions.Ipv6Cmp(
            expression(cs.head.cast(StringType)),
            expression(cs(1).cast(StringType)), prefix))
        }
        case "ipv6_is_in_range" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.Ipv6InRange(
            expression(cs.head.cast(StringType)),
            expression(cs(1).cast(StringType))))
        }
        // timespan rendering from a compile-time pattern: runs of
        // d/h/m/s are zero-padded component fields, f-runs are fraction
        // digits, anything else passes through literally; negative spans
        // get a leading '-'
        case "format_timespan" =>
          val fmt = args(1).asInstanceOf[StrLit].v
          val sp = cs.head.try_cast(LongType)
          val a = abs(sp)
          // Column./ is double division — floor back to longs for the
          // component fields
          def pad(c: Column, n: Int): Column =
            lpad(floor(c).cast(LongType).cast(StringType), n, "0")
          val parts = scala.collection.mutable.ArrayBuffer[Column]()
          parts += when(sp < 0, lit("-")).otherwise(lit(""))
          var i = 0
          while (i < fmt.length) {
            val c = fmt.charAt(i)
            var j = i
            while (j < fmt.length && fmt.charAt(j) == c) j += 1
            val n = j - i
            parts += (c match {
              case 'd' => pad(a / 86400000000L, n)
              case 'h' | 'H' => pad((a / 3600000000L) % 24, n)
              case 'm' => pad((a / 60000000L) % 60, n)
              case 's' => pad((a / 1000000L) % 60, n)
              case 'f' => substring(pad(a % 1000000L, 6), 1, math.min(n, 6))
              case _ => lit(fmt.substring(i, j))
            })
            i = j
          }
          concat(parts.toSeq: _*)
        case "url_encode" => url_encode(cs.head.cast(StringType))
        case "url_encode_component" =>
          replace(url_encode(cs.head.cast(StringType)), lit("+"), lit("%20"))
        case "url_decode" => url_decode(cs.head.cast(StringType))
        // Kusto translate(searchList, replacementList, source): per-char
        // mapping; a shorter replacement list DELETES the extra chars
        // (Spark's translate already implements exactly that)
        case "translate" =>
          val from = args.head.asInstanceOf[StrLit].v
          val to = args(1).asInstanceOf[StrLit].v
          translate(cs(2).cast(StringType), from, to)
        // strcmp: -1 / 0 / 1 by ordinal comparison, Kusto's C-style shape
        case "strcmp" =>
          val (a, b) = (cs.head.cast(StringType), cs(1).cast(StringType))
          when(a < b, -1L).when(a > b, 1L)
            .when(a === b, 0L) // null operands fall through to null
        // gettype: runtime type name, Kusto's vocabulary. Static columns
        // answer at compile time (a literal — no per-row work); variants
        // dispatch on the per-row variant schema; SQL null → "null"
        case "gettype" =>
          val c = cs.head
          infer(df, args.head) match {
            case KT.Var =>
              val t = schema_of_variant(c)
              when(c.isNull || t === "VOID", lit("null"))
                .when(t === "BOOLEAN", "bool")
                .when(t.isin("BIGINT", "INT", "SMALLINT", "TINYINT"), "long")
                .when(t.startsWith("DECIMAL") ||
                  t.isin("DOUBLE", "FLOAT"), "real")
                .when(t.startsWith("TIMESTAMP"), "datetime")
                .when(t === "STRING", "string")
                .when(t.startsWith("ARRAY"), "array")
                .otherwise("dictionary")
            case kt =>
              val name = kt match {
                case KT.Int => "long"
                case KT.Float => "real"
                case KT.Bool => "bool"
                case KT.Ts => "datetime"
                case KT.Span => "timespan"
                case KT.Arr => "array"
                case _ => "string"
              }
              when(c.isNull, lit("null")).otherwise(lit(name))
          }
        // strrep: value repeated n times, optionally delimited — lowered
        // through array_repeat + array_join so the multiplier can be any
        // expression (functions.repeat only takes a literal count); the
        // delimiter, like other separator args in this surface, is a
        // string literal
        case "strrep" =>
          val delim = args.lift(2) match {
            case None => ""
            case Some(StrLit(d)) => d
            case Some(_) => throw KqlParseException(
              "strrep() delimiter must be a string literal", 0)
          }
          array_join(
            array_repeat(cs.head.cast(StringType),
              cs(1).try_cast(IntegerType)), delim)
        // Kusto trim family: remove ONE anchored match of the regex from
        // the start/end (callers quantify with + themselves, as Kusto's
        // own examples do); the same RE2-compatible pattern runs in DuckDB
        case "trim_re" =>
          val re = args.head.asInstanceOf[StrLit].v
          regexp_replace(
            regexp_replace(cs(1).cast(StringType),
              lit(s"^(?:$re)"), lit("")),
            lit(s"(?:$re)$$"), lit(""))
        case "trim_start" =>
          val re = args.head.asInstanceOf[StrLit].v
          regexp_replace(cs(1).cast(StringType), lit(s"^(?:$re)"), lit(""))
        case "trim_end" =>
          val re = args.head.asInstanceOf[StrLit].v
          regexp_replace(cs(1).cast(StringType), lit(s"(?:$re)$$"), lit(""))
        // ---- IPv4 scalars (log-analytics staples; all arithmetic/split
        // lowerings so the DuckDB oracle replays them exactly) ----
        case "parse_ipv4" => parseIpv4(cs.head.cast(StringType))
        case "format_ipv4" =>
          // accepts a numeric ip or a dotted string (Kusto does both)
          val ipL = coalesce(cs.head.try_cast(LongType),
            parseIpv4(cs.head.cast(StringType)))
          when(ipL.isNotNull && ipL >= 0L && ipL <= 4294967295L,
            concat_ws(".",
              shiftright(ipL, 24).bitwiseAND(lit(255L)),
              shiftright(ipL, 16).bitwiseAND(lit(255L)),
              shiftright(ipL, 8).bitwiseAND(lit(255L)),
              ipL.bitwiseAND(lit(255L))))
        case "ipv4_is_in_range" =>
          val ipL = parseIpv4(cs.head.cast(StringType))
          val range = org.apache.spark.sql.functions.split(
            cs(1).cast(StringType), "/", 2)
          val baseL = parseIpv4(try_element_at(range, lit(1)))
          val bits = coalesce(
            try_element_at(range, lit(2)).try_cast(LongType), lit(32L))
          // variable-width prefix compare via exact double division —
          // shiftright() only takes a literal count; ipv4 magnitudes
          // (≤ 2^32) divided by powers of two stay exact in doubles
          val scale = pow(lit(2.0), (lit(32L) - bits).cast(DoubleType))
          when(ipL.isNotNull && baseL.isNotNull && bits.between(0L, 32L),
            floor(ipL.cast(DoubleType) / scale) ===
              floor(baseL.cast(DoubleType) / scale))
        // OR-fold of ipv4_is_in_range over the trailing range args
        // (ranges may be CIDR or bare ips); any unparseable arg → null,
        // Kusto's rule
        case "ipv4_is_in_any_range" =>
          val ipL = parseIpv4(cs.head.cast(StringType))
          val checks = cs.tail.map { c =>
            val range = org.apache.spark.sql.functions.split(
              c.cast(StringType), "/", 2)
            val baseL = parseIpv4(try_element_at(range, lit(1)))
            val bits = coalesce(
              try_element_at(range, lit(2)).try_cast(LongType), lit(32L))
            val scale = pow(lit(2.0), (lit(32L) - bits).cast(DoubleType))
            (baseL.isNotNull && bits.between(0L, 32L),
              floor(ipL.cast(DoubleType) / scale) ===
                floor(baseL.cast(DoubleType) / scale))
          }
          when(ipL.isNotNull && checks.map(_._1).reduce(_ && _),
            checks.map(_._2).reduce(_ || _))
        // text-scan ipv4 family: the needle counts only as a PROPERLY
        // DELIMITED term — adjacent chars must be non-alphanumeric and
        // not a dot (so 12.0.0.1 inside 112.0.0.1 or abc1.2.3.4 does
        // not match — ADX requires non-alphanumeric delimiters).
        // has_ipv4 requires the full term equal the (valid) ip; the
        // prefix form anchors the term start only. Same regex runs in
        // DuckDB. (the 1-arg has_ipv4(source) convenience form —
        // "contains ANY valid ipv4 token" — is handled further down)
        case "has_ipv4" | "has_any_ipv4" if cs.length >= 2 =>
          val src = cs.head.cast(StringType)
          val hits = cs.tail.map { c =>
            val esc = regexp_replace(c.cast(StringType),
              lit("\\."), lit("\\\\."))
            parseIpv4(c.cast(StringType)).isNotNull &&
              rlike(src, concat(lit("(^|[^0-9A-Za-z.])"), esc,
                lit("($|[^0-9A-Za-z.])")))
          }
          hits.reduce(_ || _)
        case "has_any_ipv4_prefix" =>
          val src = cs.head.cast(StringType)
          cs.tail.map { p =>
            val pfx = p.cast(StringType)
            val esc = regexp_replace(pfx, lit("\\."), lit("\\\\."))
            pfx =!= "" && pfx.rlike("^[0-9.]+$") &&
              rlike(src, concat(lit("(^|[^0-9A-Za-z.])"), esc))
          }.reduce(_ || _)
        case "has_ipv4_prefix" =>
          val src = cs.head.cast(StringType)
          val pfx = cs(1).cast(StringType)
          // the prefix is only legal as digits+dots (a textual ipv4
          // prefix); gating on that BOTH mirrors ADX (invalid prefix →
          // false, never an error) and makes the dot-escape a complete
          // regex-quote — no other metacharacter can survive the gate
          val esc = regexp_replace(pfx, lit("\\."), lit("\\\\."))
          pfx =!= "" && pfx.rlike("^[0-9.]+$") &&
            rlike(src, concat(lit("(^|[^0-9A-Za-z.])"), esc))
        // sequential multi-replace: rewrites(i) substitutes lookups(i)
        // left to right (later pairs see earlier results — Kusto's
        // documented order); length mismatch → null, null/empty lookups
        // skip
        case "replace_strings" =>
          def strArr(i: Int): Column = infer(df, args(i)) match {
            case KT.Var => cs(i).try_cast(ArrayType(StringType))
            case _ => cs(i)
          }
          val looks = strArr(1)
          val rews = strArr(2)
          val folded = aggregate(
            zip_with(looks, rews, (a, b) =>
              struct(a.as("s"), b.as("r"))),
            cs.head.cast(StringType),
            (acc, p) => when(
              p("s").isNull || p("s") === "" || p("r").isNull, acc)
              .otherwise(replace(acc, p("s"), p("r"))))
          when(size(looks) === size(rews), folded)
        // convert_* family: value·f(from)/f(to) with parse-validated
        // literal units — a constant-folded multiply (UnitConvert tables);
        // temperature is affine via Kelvin
        case f if f.startsWith("convert_") =>
          val cat = f.stripPrefix("convert_")
          val v = cs.head.cast(DoubleType)
          val from = args(1).asInstanceOf[StrLit].v
          val to = args(2).asInstanceOf[StrLit].v
          if (cat == "temperature") {
            val (s1, b1, _) = graft.functions.UnitConvert.toKelvin(from)
            val k = (v + lit(b1)) * lit(s1)
            to match {
              case "Kelvin" => k
              case "DegreeCelsius" => k - lit(273.15)
              case _ => k * lit(9.0 / 5.0) - lit(459.67)
            }
          } else {
            val m = graft.functions.UnitConvert.factors(cat)
            v * lit(m(from)) / lit(m(to))
          }
        case "ipv4_is_private" =>
          val ipL = parseIpv4(cs.head.cast(StringType))
          when(ipL.isNotNull,
            shiftright(ipL, 24) === 10L ||                      // 10/8
              shiftright(ipL, 20) === lit(172L * 16 + 1L) ||    // 172.16/12
              shiftright(ipL, 16) === lit(192L * 256 + 168L))   // 192.168/16
        // CIDR-aware compare/match: each ip string may carry its own
        // /suffix; the effective prefix is the LEAST of both suffixes and
        // the optional argument (Kusto's rule). Same exact-double prefix
        // scaling as ipv4_is_in_range
        case "ipv4_compare" | "ipv4_is_match" =>
          def ipBits(c: Column): (Column, Column) = {
            val parts = org.apache.spark.sql.functions.split(
              c.cast(StringType), "/", 2)
            (parseIpv4(try_element_at(parts, lit(1))),
              coalesce(try_element_at(parts, lit(2)).try_cast(LongType),
                lit(32L)))
          }
          val (ip1, b1) = ipBits(cs.head)
          val (ip2, b2) = ipBits(cs(1))
          val argBits = if (cs.length == 3) cs(2).try_cast(LongType)
                        else lit(32L)
          val eff = least(b1, b2, argBits)
          val scale = pow(lit(2.0), (lit(32L) - eff).cast(DoubleType))
          val m1 = floor(ip1.cast(DoubleType) / scale)
          val m2 = floor(ip2.cast(DoubleType) / scale)
          val ok = ip1.isNotNull && ip2.isNotNull && eff.between(0L, 32L)
          if (name == "ipv4_is_match") when(ok, m1 === m2)
          else when(ok,
            when(m1 < m2, -1L).when(m1 > m2, 1L).otherwise(0L))
        // special functions (round 9): erf/erfc via Maclaurin + Lentz
        // continued fraction, gamma/loggamma via Lanczos g=7 — native
        // codegen'd kernels (functions.MathFnsUtil), poles/NaN → null
        case "erf" | "erfc" | "gamma" | "loggamma" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.MathFnExpr(
            expression(cs.head.cast(DoubleType)), name))
        }
        // around (round 9): |value − center| ≤ delta, datetime-aware
        // (timestamps compare in epoch micros against a timespan delta)
        case "around" =>
          if (infer(df, args.head) == KT.Ts) {
            val v = unix_micros(cs.head.cast(TimestampType))
            val c = unix_micros(cs(1).cast(TimestampType))
            abs(v - c) <= cs(2).cast(LongType)
          } else
            abs(cs.head.cast(DoubleType) - cs(1).cast(DoubleType)) <=
              cs(2).cast(DoubleType)
        // assert (round 9): true when the condition holds, otherwise the
        // QUERY fails with the message — ADX's contract (this is the one
        // scalar where an error is the point, not a null)
        case "assert" =>
          when(cs.head.cast(BooleanType),
            lit(true)).otherwise(
            raise_error(concat(lit("assert() failed: "),
              cs(1).cast(StringType))).cast(BooleanType))
        // to_utf8 (round 9): UTF-8 bytes as a dynamic int array
        case "to_utf8" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TextCodecExpr(
            expression(cs.head.cast(StringType)), "utf8_bytes"))
        }
        // rand()/rand(n) and new_guid() (round 9): the engine's ONLY
        // nondeterministic scalars — per-row uniform double / integer in
        // [0, n) / v4 GUID. Deliberately never oracled (spec-covered);
        // everything else in the engine stays replayable.
        case "rand" =>
          if (cs.isEmpty) rand()
          else floor(rand() * cs.head.cast(DoubleType)).cast(LongType)
        case "new_guid" => uuid()
        // welch_test (round 9): t and Welch–Satterthwaite df in Column
        // space (codegen'd arithmetic), Student-t tail via the ibeta_reg
        // kernel — two-sided p-value; degenerate inputs → null
        case "welch_test" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val Seq(m1, v1, n1, m2, v2, n2) =
            cs.take(6).map(_.cast(DoubleType))
          val u1 = v1 / n1
          val u2 = v2 / n2
          val s = u1 + u2
          val t = (m1 - m2) / sqrt(s)
          val dfr = (s * s) /
            (u1 * u1 / (n1 - lit(1.0)) + u2 * u2 / (n2 - lit(1.0)))
          val ok = n1 >= 2 && n2 >= 2 && v1 >= 0 && v2 >= 0 && s > 0
          when(ok, column(graft.functions.IBetaRegExpr(
            expression(dfr / (dfr + t * t)),
            expression(dfr / lit(2.0)), expression(lit(0.5)))))
        }
        // parse_urlquery (round 9): "k1=v1&k2=v2" (optional leading '?')
        // → {"Query Parameters": {k: url-decoded v}} — Kusto's bag shape
        case "parse_urlquery" => {
          val qs = regexp_replace(cs.head.cast(StringType), "^\\?", "")
          val m = transform_values(
            str_to_map(qs, lit("&"), lit("=")),
            (_, v) => url_decode(v))
          try_parse_json(to_json(struct(m.as("Query Parameters"))))
        }
        // parse_ipv6_mask (round 9): canonical full form of the address
        // masked to `prefix` bits — the missing sibling of the existing
        // ipv6 family (Ipv6.scala kernel)
        case "parse_ipv6_mask" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.Ipv6CanonicalMask(
            expression(cs.head.cast(StringType)),
            expression(cs(1).cast(LongType))))
        }
        // suffix of "ip/suffix"; a bare valid ip is /32; junk → null
        case "ipv4_netmask_suffix" =>
          val parts = org.apache.spark.sql.functions.split(
            cs.head.cast(StringType), "/", 2)
          val base = parseIpv4(try_element_at(parts, lit(1)))
          val bits = coalesce(
            try_element_at(parts, lit(2)).try_cast(LongType), lit(32L))
          when(base.isNotNull && bits.between(0L, 32L), bits)
        // mask the address to the prefix and render "a.b.c.d/p"
        case "format_ipv4_mask" =>
          val ipL = coalesce(cs.head.try_cast(LongType),
            parseIpv4(cs.head.cast(StringType)))
          val bits = cs(1).try_cast(LongType)
          val scale = pow(lit(2.0), (lit(32L) - bits).cast(DoubleType))
          val masked = (floor(ipL.cast(DoubleType) / scale) * scale)
            .cast(LongType)
          when(ipL.isNotNull && ipL.between(0L, 4294967295L) &&
              bits.between(0L, 32L),
            concat(concat_ws(".",
              shiftright(masked, 24).bitwiseAND(lit(255L)),
              shiftright(masked, 16).bitwiseAND(lit(255L)),
              shiftright(masked, 8).bitwiseAND(lit(255L)),
              masked.bitwiseAND(lit(255L))),
              lit("/"), bits.cast(StringType)))
        // Kusto replace_regex: every match rewritten; the same
        // RE2-compatible pattern runs in any oracle engine ($1-style
        // group refs pass through — both engines accept them)
        case "replace_regex" =>
          regexp_replace(cs.head.cast(StringType),
            lit(args(1).asInstanceOf[StrLit].v),
            lit(args(2).asInstanceOf[StrLit].v))
        // has_ipv4: some whitespace/punct-delimited token is a STRICT
        // dotted quad (octets 0-255). Token-split + per-token anchored
        // regex — no lookaround, so the identical pattern replays in
        // RE2-based engines
        case "has_ipv4" =>
          val octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
          val re = s"^$octet\\.$octet\\.$octet\\.$octet$$"
          exists(
            org.apache.spark.sql.functions.split(
              cs.head.cast(StringType), "[\\s,;:\\[\\]()\"']+"),
            t => t.rlike(re))
        case "treepath" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TreePath(
            expression(cs.head.cast(StringType))))
        }
        // XML → variant through the DOM kernel (attributes as @keys,
        // repeated siblings as arrays, #text for mixed content; DOCTYPE
        // and external entities refused — no XXE)
        case "parse_xml" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          try_parse_json(column(graft.functions.ParseXml(
            expression(cs.head.cast(StringType)))))
        }
        // canonical JSON rendering of a dynamic (keys sorted recursively,
        // array order kept); non-dynamic scalars render as JSON scalars
        // (strings/timestamps quote via a 1-element to_json slice)
        case "dynamic_to_json" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val jtxt = infer(df, args.head) match {
            case KT.Var => cs.head.cast(StringType)
            case KT.Arr => to_json(cs.head)
            case KT.Str | KT.Ts =>
              val q = to_json(array(cs.head))
              q.substr(lit(2), length(q) - 2)
            case _ => cs.head.cast(StringType)
          }
          column(graft.functions.CanonJson(expression(jtxt)))
        }
        // Kusto hash(): xxhash64, optionally reduced modulo m (non-negative)
        case "hash" =>
          val h = xxhash64(cs.head)
          if (cs.length == 2) pmod(h, cs(1).try_cast(LongType)) else h
        // parse_url: component bag with Kusto's key names (missing parts
        // are empty strings, Kusto's shape; query parameters nest as
        // their own bag). Composed from Spark's codegen'd parse_url parts
        // and re-parsed to a variant so field paths / bag_* compose
        case "parse_url" =>
          val u = cs.head.cast(StringType)
          def piece(p: String): Column =
            coalesce(parse_url(u, lit(p)), lit(""))
          val userinfo = parse_url(u, lit("USERINFO"))
          val user = coalesce(substring_index(userinfo, ":", 1), lit(""))
          val pass = coalesce(
            when(userinfo.contains(":"),
              substring_index(userinfo, ":", -1)), lit(""))
          val query = piece("QUERY")
          val qmap = when(length(query) > 0,
            str_to_map(query, lit("&"), lit("=")))
            .otherwise(map())
          // Spark's parse_url has no PORT part — a trailing :digits on
          // the authority is the port (the userinfo's ':' can't match,
          // the pattern is end-anchored and numeric)
          val port = coalesce(
            regexp_extract(parse_url(u, lit("AUTHORITY")),
              ":(\\d+)$", 1), lit(""))
          try_parse_json(to_json(struct(
            piece("PROTOCOL").as("Scheme"),
            piece("HOST").as("Host"),
            port.as("Port"),
            piece("PATH").as("Path"),
            user.as("Username"),
            pass.as("Password"),
            qmap.as("Query Parameters"),
            piece("REF").as("Fragment"))))
        // parse_version: up to four dot-separated numeric parts packed
        // into one comparable long (part·10^12 + 10^8 + 10^4 + 1; missing
        // parts are 0) — parts cap at 9999 (Kusto's decimal packing
        // allows 8 digits; a narrower cap that fits a long, documented).
        // Same split+arithmetic shape as parse_ipv4, oracle-replayable
        case "parse_version" =>
          val p = split(cs.head.cast(StringType), "\\.")
          def part(i: Int): Column =
            try_element_at(p, lit(i)).try_cast(LongType)
          def ok(i: Int): Column =
            (size(p) < i) || (part(i).isNotNull && part(i).between(0L, 9999L))
          val valid = size(p).between(1, 4) &&
            ok(1) && ok(2) && ok(3) && ok(4)
          when(valid,
            coalesce(part(1), lit(0L)) * 1000000000000L +
              coalesce(part(2), lit(0L)) * 100000000L +
              coalesce(part(3), lit(0L)) * 10000L +
              coalesce(part(4), lit(0L)))
        // optional minDigits zero-pads — a MINIMUM, never truncation
        // (lpad alone would cut longer values down to the width)
        case "tohex" =>
          val h = lower(hex(cs.head.try_cast(LongType)))
          args.lift(1) match {
            case Some(IntLit(w)) =>
              when(length(h) >= w.toInt, h)
                .otherwise(lpad(h, math.max(w.toInt, 1), "0"))
            case _ => h
          }
        case "base64_encode_tostring" => base64(cs.head.cast(BinaryType))
        case "base64_decode_tostring" => unbase64(cs.head.cast(StringType))
          .cast(StringType)
        // full matches when the pattern has no capture group, else group 1
        // (regexp_extract_all semantics shared by both engines)
        case "extract_all" =>
          val re = args.head.asInstanceOf[StrLit].v
          val g =
            if (java.util.regex.Pattern.compile(re).matcher("").groupCount() > 0) 1
            else 0
          regexp_extract_all(cs(1).cast(StringType), lit(re), lit(g))
        // all capture groups of the FIRST match as one array; group count
        // comes from the compiled pattern. No match → null (Kusto's
        // dynamic null); a matched-but-unparticipating optional group
        // yields "" like extract
        case "extract_groups" =>
          val re = args.head.asInstanceOf[StrLit].v
          val n = java.util.regex.Pattern.compile(re).matcher("").groupCount()
          if (n == 0) throw KqlParseException(
            "extract_groups() regex has no capture groups", 0)
          val src = cs(1).cast(StringType)
          when(src.rlike(re),
            array((1 to n).map(i => regexp_extract(src, re, i)): _*))
      }

    // anchored binning: anchor + floor((x − anchor)/width)·width
    case BinAt(x, width, anchor) =>
      compileBinAt(df, x, width, anchor)

    case e => compileRest(df, e)
  }

  /** Dotted-quad IPv4 → long, null on anything malformed: exactly four
    * dot-separated decimal fields, each 0-255 (try_cast nulls non-digits;
    * `1.2.3.4.5` fails the size check). Pure split + arithmetic so the
    * DuckDB oracle replays it verbatim.
    */
  /** Shared basket core: every non-empty column subset of every row as a
    * masked candidate segment, counted in ONE hash aggregation with the
    * threshold·N filter from a broadcast 1-row total. Returns the
    * surviving segments `(__mask, cols…, Count, __N)` plus the column
    * list. */
  private def basketSegments(
      df: DataFrame, threshold: Double): (DataFrame, Seq[String]) = {
    val cols = df.columns.toSeq
    if (cols.size > 10) throw KqlParseException(
      s"basket over ${cols.size} columns would expand 2^${cols.size} " +
        "subsets per row — project to at most 10 columns first", 0)
    val c = cols.size
    val totals = broadcast(df.agg(count(lit(1)).as("__N")))
    val masked = df.crossJoin(totals)
      .withColumn("__mask",
        explode(sequence(lit(1L), lit((1L << c) - 1L))))
      .select(col("__mask") +: col("__N") +:
        cols.zipWithIndex.map { case (cn, i) =>
          when(shiftright(col("__mask"), i).bitwiseAND(lit(1L)) === 1L,
            col(s"`$cn`")).as(cn)
        }: _*)
    val grouped = masked
      .groupBy(col("__mask") +: cols.map(cn => col(s"`$cn`")): _*)
      .agg(count(lit(1)).as("Count"), first(col("__N")).as("__N"))
      .filter(col("Count") >= lit(threshold) * col("__N"))
    (grouped, cols)
  }

  /** Rank the segments and shape Kusto's SegmentId/Count/Percent output. */
  private def basketOutput(grouped: DataFrame, cols: Seq[String]): DataFrame = {
    val ord = col("Count").desc +: col("__mask").asc +:
      cols.map(cn => col(s"`$cn`").asc)
    grouped
      .withColumn("SegmentId", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord: _*))
        .cast(LongType))
      .withColumn("Percent", lit(100.0) * col("Count") / col("__N"))
      .select(col("SegmentId") +: col("Count") +: col("Percent") +:
        cols.map(cn => col(s"`$cn`")): _*)
  }

  /** GeoJSON Polygon rings (exterior + holes) as closed vertex lists —
    * parsed once at compile from the literal. */
  private def parsePolygonRings(geojson: String): Seq[Seq[(Double, Double)]] = {
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(geojson)
      val coords = root.get("coordinates")
      if (coords == null || !coords.isArray || coords.isEmpty)
        throw KqlParseException(
          "geo_point_in_polygon() polygon needs GeoJSON coordinates", 0)
      val rings = Seq.newBuilder[Seq[(Double, Double)]]
      coords.forEach { ring =>
        val vs = Seq.newBuilder[(Double, Double)]
        ring.forEach(pt => vs += ((pt.get(0).asDouble(), pt.get(1).asDouble())))
        val v = vs.result()
        // GeoJSON closes rings (last = first); close unclosed ones
        rings += (if (v.nonEmpty && v.head != v.last) v :+ v.head else v)
      }
      val out = rings.result()
      if (out.exists(_.length < 4)) throw KqlParseException(
        "geo_point_in_polygon() rings need at least 3 distinct vertices", 0)
      out
    } catch {
      case e: KqlParseException => throw e
      case _: Exception => throw KqlParseException(
        "geo_point_in_polygon() polygon is not valid GeoJSON", 0)
    }
  }

  /** Binary series op with Kusto's scalar broadcast: array×array zips
    * (shorter side null-padded), array×scalar maps the scalar over every
    * element. The scalar side is whichever arg does NOT infer as an
    * array/variant. */
  private def seriesBinary(
      df: DataFrame, args: Seq[Expr],
      op: (Column, Column) => Column): Column = {
    def isArr(a: Expr): Boolean = infer(df, a) match {
      case KT.Arr | KT.Var => true
      case _ => false
    }
    val (a0, a1) = (compile(df, args.head), compile(df, args(1)))
    (isArr(args.head), isArr(args(1))) match {
      case (true, false) => transform(a0, x => op(x, a1))
      case (false, true) => transform(a1, x => op(a0, x))
      case _ => zip_with(a0, a1, op)
    }
  }

  /** Σ aᵢ·bᵢ in doubles; null elements / length mismatch poison the fold
    * to null (row-error policy; Kusto errors instead). */
  private def seriesDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** The cascaded as-of sequence matcher shared by sequence_detect and
    * funnel_sequence: stepDf(i) yields (__k, __ts) candidate rows for
    * step i; the result carries one row per matched suffix with the step
    * timestamps as `names` columns (plus __k). `win` bounds consecutive
    * steps, `dur` the whole sequence.
    */
  private def sequenceChain(stepDf: Int => DataFrame, names: Seq[String],
      win: Long, dur: Long): DataFrame = {
    var acc = stepDf(0).select(col("__k"), col("__ts").as(names.head))
    for (i <- 1 until names.length) {
      val prevName = names(i - 1)
      val earlier = names.take(i - 1)
      // collapse prefixes that share (key, anchor-ts): keep the
      // lexicographically latest earlier timestamps
      val collapsed =
        if (earlier.isEmpty) acc.distinct()
        else acc.groupBy(col("__k"), col(prevName))
          .agg(max(struct(earlier.map(col): _*)).as("__e"))
          .select(col("__k") +: col(prevName) +:
            earlier.map(n => col(s"__e.$n").as(n)): _*)
      val right = collapsed.withColumn("__ts", col(prevName))
        .drop(prevName)
      val joined = graft.functions.AsOf.join(
        stepDf(i), right, "__k", "__ts", earlier, prefix = "__asof_")
      acc = joined
        .withColumn(prevName, col("__asof___ts"))
        .filter(col(prevName).isNotNull)
        .filter(unix_micros(col("__ts")) - unix_micros(col(prevName))
          <= lit(win))
        .select(col("__k") +:
          earlier.map(n => col(s"__asof_$n").as(n)) :+
          col(prevName) :+ col("__ts").as(names(i)): _*)
        .filter(unix_micros(col(names(i))) - unix_micros(col(names.head))
          <= lit(dur))
    }
    acc
  }

  private def parseIpv4(c: Column): Column = {
    val p = split(c, "\\.")
    val nums = (1 to 4).map(i => try_element_at(p, lit(i)).try_cast(LongType))
    val valid = size(p) === 4 &&
      nums.map(n => n.isNotNull && n.between(0L, 255L)).reduce(_ && _)
    when(valid,
      nums(0) * 16777216L + nums(1) * 65536L + nums(2) * 256L + nums(3))
  }

  private def compileBinAt(df: DataFrame, x: Expr, width: Expr, anchor: Expr): Column = {
      val xt = infer(df, x)
      def tsBinAt(wMicros: Long): Column = {
        val xm = unix_micros(compile(df, x).try_cast(TimestampType))
        val am = unix_micros(compile(df, anchor).try_cast(TimestampType))
        timestamp_micros(am + floor((xm - am).cast(DoubleType) / lit(wMicros.toDouble))
          .cast(LongType) * lit(wMicros))
      }
      (xt, width) match {
        case (KT.Ts, TimespanLit(w)) => tsBinAt(w)
        // mirror bin(): an integer width on a datetime means seconds —
        // falling into the numeric branch would silently try_cast the
        // timestamp to double and change the result type out from under
        // infer()'s KT.Ts
        case (KT.Ts, IntLit(sec)) => tsBinAt(sec * 1000000L)
        case (KT.Ts, _) => throw KqlParseException(
          "bin_at() width on a datetime must be a timespan or integer-seconds literal", 0)
        case (_, IntLit(_)) | (_, FloatLit(_)) | (_, TimespanLit(_)) =>
          val xc = compile(df, x).try_cast(DoubleType)
          val ac = compile(df, anchor).try_cast(DoubleType)
          val wc = compile(df, width).try_cast(DoubleType)
          ac + floor((xc - ac) / wc) * wc
        case _ => throw KqlParseException("bin_at() width must be a literal", 0)
      }
  }

  // continuation of compile()'s expression dispatch (split so a single
  // method stays within the JVM's 64 KB bytecode limit as the scalar
  // surface grows)
  private def compileRest(df: DataFrame, e: Expr): Column = e match {
    case DtFn(name, x) =>
      val xc = compile(df, x).try_cast(TimestampType)
      name match {
        case "startofday" => date_trunc("day", xc)
        case "startofhour" => date_trunc("hour", xc)
        // KQL weeks start on Sunday; Spark's date_trunc('week') starts
        // Monday, so back up to the previous Sunday by dayofweek (Sun=1)
        case "startofweek" =>
          date_sub(to_date(xc), dayofweek(xc) - lit(1)).cast(TimestampType)
        case "startofmonth" => date_trunc("month", xc)
        case "startofyear" => date_trunc("year", xc)
        // last representable tick of the day at this engine's precision
        // (µs; the reference/KQL tick is 100 ns)
        case "endofday" =>
          timestamp_micros(
            unix_micros(date_trunc("day", xc)) + lit(86400000000L - 1L))
        case "hourofday" => hour(xc).cast(LongType)
        case "dayofmonth" => dayofmonth(xc).cast(LongType)
        case "monthofyear" => month(xc).cast(LongType)
        case "dayofweek" => (dayofweek(xc) - lit(1)).cast(LongType)
        case "weekofyear" => weekofyear(xc).cast(LongType)
        case "getyear" => year(xc).cast(LongType)
        case "getmonth" => month(xc).cast(LongType)
        case "dayofyear" => dayofyear(xc).cast(LongType)
        case "startofquarter" => date_trunc("quarter", xc)
        // endof*: first tick of the NEXT period minus one microsecond
        // (this engine's precision; the reference/KQL tick is 100 ns).
        // add_months lands anywhere inside the next period, so the trunc
        // is clamp-safe (Jan 31 + 1 month → Feb 28 is still February)
        case "endofweek" =>
          timestamp_micros(unix_micros(
            date_sub(to_date(xc), dayofweek(xc) - lit(1)).cast(TimestampType)) +
            lit(7L * 86400000000L - 1L))
        case "endofmonth" =>
          timestamp_micros(unix_micros(date_trunc("month",
            add_months(xc, 1).cast(TimestampType))) - lit(1L))
        case "endofyear" =>
          timestamp_micros(unix_micros(date_trunc("year",
            add_months(xc, 12).cast(TimestampType))) - lit(1L))
        case "endofquarter" =>
          timestamp_micros(unix_micros(date_trunc("quarter",
            add_months(xc, 3).cast(TimestampType))) - lit(1L))
        // datetime_part: Kusto's part vocabulary onto extract
        case p if p.startsWith("part_") => (p.stripPrefix("part_") match {
          case "year" => year(xc)
          case "quarter" => quarter(xc)
          case "month" => month(xc)
          case "week_of_year" => weekofyear(xc)
          case "day" => dayofmonth(xc)
          case "dayofyear" => dayofyear(xc)
          case "hour" => hour(xc)
          case "minute" => minute(xc)
          case "second" => second(xc)
          case "millisecond" => (unix_micros(xc) % 1000000L) / 1000L
          case "microsecond" => unix_micros(xc) % 1000000L
        }).cast(LongType)
      }

    // period-boundary crossing count (KQL datetime_diff): truncate both
    // sides to the period, then difference — never elapsed-time division
    case TupleGet(e, i) =>
      // the struct expression recurs once per assigned name; whole-stage
      // codegen's subexpression elimination collapses the copies, so the
      // kernel evaluates once per row
      val c = compile(df, e)
      tupleStructType(df, e) match {
        case s: org.apache.spark.sql.types.StructType if i < s.length =>
          c.getField(s(i).name)
        case other => throw KqlParseException(
          s"multi-assign (…) = f(…) needs a struct-valued tuple function " +
            s"(series_stats, series_fit_line, series_fit_2lines, " +
            s"series_fft, series_ifft — got " +
            s"${other.simpleString}); the _dynamic forms return bags for " +
            "single-column use", 0)
      }
    case ToScalar(q) => lit(toScalarValue(q))

    case DtAdd(period, n, ts) =>
      val tsc = compile(df, ts).try_cast(TimestampType)
      val nc = compile(df, n).cast(IntegerType)
      // add_months works on DATEs (midnight) — carry the time-of-day
      // micros across the calendar shift explicitly
      def calendarShift(months: Column): Column = {
        val tod = unix_micros(tsc) - unix_micros(date_trunc("DAY", tsc))
        timestamp_micros(
          unix_micros(add_months(tsc, months).cast(TimestampType)) + tod)
      }
      period match {
        // calendar-aware: Kusto clamps day-of-month like add_months
        case "year" => calendarShift(nc * 12)
        case "month" => calendarShift(nc)
        case other =>
          val micros = other match {
            case "day" => 86400000000L
            case "hour" => 3600000000L
            case "minute" => 60000000L
            case _ => 1000000L
          }
          timestamp_micros(
            unix_micros(tsc) + compile(df, n).cast(LongType) * micros)
      }

    case DtDiff(period, a, b) =>
      val ac = compile(df, a).try_cast(TimestampType)
      val bc = compile(df, b).try_cast(TimestampType)
      period match {
        case "year" => (year(ac) - year(bc)).cast(LongType)
        case "month" =>
          ((year(ac) * lit(12) + month(ac)) -
            (year(bc) * lit(12) + month(bc))).cast(LongType)
        case _ =>
          val micros = period match {
            case "day" => 86400000000L
            case "hour" => 3600000000L
            case "minute" => 60000000L
            case "second" => 1000000L
          }
          // both sides are truncated to the period, so the division is
          // exact — the long cast loses nothing
          ((unix_micros(date_trunc(period, ac)) -
            unix_micros(date_trunc(period, bc))) / lit(micros)).cast(LongType)
      }

    case NullFn(name, args) =>
      val cs = args.map(a => compile(df, a))
      def empty(i: Int): Column =
        cs(i).isNull.or(cs(i).cast(StringType) === lit(""))
      name match {
        case "isnull" => cs.head.isNull
        case "isnotnull" => cs.head.isNotNull
        case "isempty" => empty(0)
        case "isnotempty" => !empty(0)
        // float-class predicates: null input → false (Kusto), so the
        // three partition {nan, ±inf, finite} ∪ {null/non-numeric}
        case "isnan" =>
          coalesce(isnan(cs.head.try_cast(DoubleType)), lit(false))
        case "isinf" =>
          val v = cs.head.try_cast(DoubleType)
          coalesce(v === lit(Double.PositiveInfinity) ||
            v === lit(Double.NegativeInfinity), lit(false))
        case "isfinite" =>
          val v = cs.head.try_cast(DoubleType)
          v.isNotNull && !isnan(v) &&
            v =!= lit(Double.PositiveInfinity) &&
            v =!= lit(Double.NegativeInfinity)
        // KQL coalesce skips empty strings as well as nulls
        case "coalesce" =>
          val guarded = args.indices.map { i =>
            if (infer(df, args(i)) == KT.Str)
              when(cs(i) === lit(""), lit(null)).otherwise(cs(i))
            else cs(i)
          }
          coalesce(guarded: _*)
      }

    case MathFn(name, args) =>
      def d(i: Int): Column = compile(df, args(i)).try_cast(DoubleType)
      name match {
        case "abs" => infer(df, args.head) match {
          case KT.Float => abs(d(0))
          case _ => abs(compile(df, args.head).try_cast(LongType))
        }
        case "round" => args match {
          case Seq(_) => round(d(0))
          case Seq(_, IntLit(p)) => round(d(0), p.toInt)
          case _ => throw KqlParseException(
            "round() precision must be an integer literal", 0)
        }
        // variadic extrema: nulls ignored (least/greatest skip nulls,
        // Kusto's rule); all-integral arguments stay long
        case "min_of" | "max_of" =>
          val allInt = args.forall(a => infer(df, a) == KT.Int)
          val cs = args.map(a =>
            if (allInt) compile(df, a).try_cast(LongType)
            else compile(df, a).try_cast(DoubleType))
          if (name == "min_of") least(cs: _*) else greatest(cs: _*)
        case "exp" => exp(d(0))
        case "log" => log(d(0)) // natural log, KQL convention
        case "log10" => log10(d(0))
        case "log2" => log2(d(0))
        case "sqrt" => sqrt(d(0))
        case "pow" => pow(d(0), d(1))
        case "sign" => signum(d(0))
        // trig family — all codegen'd builtins over doubles. Cross-engine
        // float caveat: java.lang.Math and C libm agree to the last ulp on
        // almost all inputs but are not both correctly rounded, so oracle
        // queries guard transcendental outputs with round(_, 6).
        case "sin" => sin(d(0))
        case "cos" => cos(d(0))
        case "tan" => tan(d(0))
        case "asin" => asin(d(0))
        case "acos" => acos(d(0))
        case "atan" => atan(d(0))
        case "atan2" => atan2(d(0), d(1))
        case "cot" => lit(1.0) / tan(d(0))
        case "degrees" => degrees(d(0))
        case "radians" => radians(d(0))
        case "exp2" => pow(lit(2.0), d(0))
        case "exp10" => pow(lit(10.0), d(0))
        case "pi" => lit(math.Pi)
        // spherical haversine, R = 6371 km — a documented deviation from
        // Kusto's WGS84 geodesic (S2), which differs by < 0.5%; chosen
        // because the formula is replayable bit-for-bit in any SQL engine
        case "geo_distance_2points" | "geo_point_in_circle" =>
          def rad(i: Int) = radians(d(i))
          def haversine(lon1: Column, lat1: Column,
              lon2: Column, lat2: Column): Column = {
            val dLat = lat2 - lat1
            val dLon = lon2 - lon1
            val a = pow(sin(dLat / 2), 2.0) +
              cos(lat1) * cos(lat2) * pow(sin(dLon / 2), 2.0)
            lit(2.0 * 6371000.0) * asin(sqrt(a))
          }
          val dist = haversine(rad(0), rad(1), rad(2), rad(3))
          val valid = (0 to 3).map(d(_)).zipWithIndex.map { case (c, i) =>
            if (i % 2 == 0) abs(c) <= lit(180.0) else abs(c) <= lit(90.0)
          }.reduce(_ && _)
          val guarded = when(valid, dist)
          if (name == "geo_distance_2points") guarded
          else guarded <= d(4)
        // even-odd ray casting over a LITERAL GeoJSON polygon: the ring
        // edges unroll to a codegen'd crossing-count fold (planar
        // lon/lat edges — Kusto's spherical edge interpolation deviates
        // by < 0.5% at city scale, documented like the haversine choice);
        // holes fall out of the even-odd rule over ALL rings. The same
        // literal-constant arithmetic replays bit-for-bit in SQL
        case "geo_point_in_polygon" =>
          val rings = args(2) match {
            case StrLit(gj) => parsePolygonRings(gj)
            case _ => throw KqlParseException(
              "geo_point_in_polygon() polygon must be a literal", 0)
          }
          val x = d(0); val y = d(1)
          val crossings = rings.flatMap { ring =>
            ring.zip(ring.tail).map { case ((xi, yi), (xj, yj)) =>
              when((lit(yi) > y) =!= (lit(yj) > y) &&
                x < lit(xj - xi) * (y - lit(yi)) / lit(yj - yi) + lit(xi),
                1L).otherwise(0L)
            }
          }.reduce(_ + _)
          when(abs(x) <= 180.0 && abs(y) <= 90.0, crossings % 2 === 1L)
        // bitwise family over longs; shift counts use Java's mod-64 wrap
        // (documented — Kusto leaves ≥64-bit shifts unspecified)
        case "binary_and" | "binary_or" | "binary_xor" |
            "binary_shift_left" | "binary_shift_right" =>
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          import org.apache.spark.sql.catalyst.expressions.{ShiftLeft, ShiftRight}
          val a = compile(df, args.head).try_cast(LongType)
          val b = compile(df, args(1)).try_cast(LongType)
          name match {
            case "binary_and" => a.bitwiseAND(b)
            case "binary_or" => a.bitwiseOR(b)
            case "binary_xor" => a.bitwiseXOR(b)
            case "binary_shift_left" =>
              column(ShiftLeft(expression(a),
                expression(b.cast(IntegerType))))
            case "binary_shift_right" =>
              column(ShiftRight(expression(a),
                expression(b.cast(IntegerType))))
          }
        case "binary_not" =>
          bitwise_not(compile(df, args.head).try_cast(LongType))
        case "bitset_count_ones" =>
          bit_count(compile(df, args.head).try_cast(LongType)).cast(LongType)
        case "ceiling" => infer(df, args.head) match {
          // ceil(double) yields a long in Spark; cast back to keep the
          // Kusto real-in→real-out contract
          case KT.Float => ceil(d(0)).cast(DoubleType)
          case _ => compile(df, args.head).try_cast(LongType)
        }
      }

    case ArrFn(name, args) =>
      def s(i: Int): Column = compile(df, args(i)).cast(StringType)
      name match {
        case "split" =>
          val delim = args(1) match {
            case StrLit(v) => v
            case _ => throw KqlParseException(
              "split() delimiter must be a string literal", 0)
          }
          // literal (non-regex) delimiter; limit -1 keeps trailing empties
          val arr = split(s(0), java.util.regex.Pattern.quote(delim), -1)
          if (args.length == 3) // 0-based element form; out-of-range → null
            try_element_at(arr,
              (compile(df, args(2)).try_cast(LongType) + lit(1L))
                .cast(IntegerType))
          else arr
        case "indexof" if args.length == 2 =>
          // 0-based; -1 when absent (instr is 1-based/0)
          (instr(s(0), s(1)) - lit(1)).cast(LongType)
        // full Kusto form: search window [start, start+length), occurrence
        // k. k-th position = length of the prefix before the k-th match
        // (SUBSTRING_INDEX), valid only when the window holds ≥ k matches
        case "indexof" =>
          val src = s(0); val look = s(1)
          val n = length(src).cast(LongType)
          val st0 = compile(df, args(2)).try_cast(LongType)
          // negative start counts from the end (Kusto), floored at 0
          val st = when(st0 < 0L, greatest(n + st0, lit(0L))).otherwise(st0)
          val lenRaw = args.lift(3).map(a => compile(df, a).try_cast(LongType))
            .getOrElse(lit(-1L))
          val wlen = when(lenRaw < 0L, n).otherwise(lenRaw)
          val window = src.substr((st + 1L).cast(IntegerType),
            wlen.cast(IntegerType))
          val k = args.lift(4).map(_.asInstanceOf[IntLit].v.toInt).getOrElse(1)
          val occ = (length(window) -
            length(replace(window, look, lit("")))).cast(LongType) /
            length(look).cast(LongType)
          val idxInWin = length(call_function("substring_index",
            window, look, lit(k))).cast(LongType)
          when(length(look) === 0, st)
            .when(occ >= k, st + idxInWin)
            .otherwise(lit(-1L))
        // shallow bag merge in ARGUMENT order (leftmost bag wins each
        // key, Kusto's rule) through the make_bag merge kernel; output
        // re-parses to variant so field paths compose
        case "bag_merge" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          try_parse_json(column(graft.functions.MergeJsonBags(
            expression(array(args.map(a =>
              compile(df, a).cast(StringType)): _*)))))
        }
        // bag from parallel key/value arrays (Kusto bag_zip): null keys
        // drop, DUPLICATE keys keep the LAST occurrence, length mismatch
        // → null. Built as JSON text (to_json quotes/escapes the keys
        // and serializes each value in its own type), re-parsed to a
        // variant. O(n²) HOF dedup — bags are small by construction.
        case "bag_zip" => {
          def arr(e: Expr): Column = infer(df, e) match {
            case KT.Var => compile(df, e).try_cast(ArrayType(VariantType))
            case _ => compile(df, e)
          }
          val ks = transform(arr(args.head), k => k.cast(StringType))
          val vs = arr(args(1))
          val zipped = transform(ks, (k, i) =>
            struct(k.alias("col1"), element_at(vs, i + 1).alias("col2")))
          val nonNull = filter(zipped, e => e.getField("col1").isNotNull)
          val rev = reverse(nonNull)
          val deduped = filter(rev, (e, i) =>
            !exists(slice(rev, lit(1), i),
              x => x.getField("col1") === e.getField("col1")))
          // to_json only serializes complex types: wrap scalars in a
          // 1-element array and strip the brackets
          def jsonOf(c: Column): Column = {
            val j = to_json(array(c))
            j.substr(lit(2), length(j) - 2)
          }
          val entries = transform(reverse(deduped), e =>
            concat(jsonOf(e.getField("col1")), lit(":"),
              jsonOf(e.getField("col2"))))
          when(size(ks) === size(vs), try_parse_json(
            concat(lit("{"), array_join(entries, ","), lit("}"))))
        }
        // top-level key removal (nested JSONPath forms are a documented
        // narrowing); non-object input → null
        case "bag_remove_keys" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          try_parse_json(column(graft.functions.BagRemoveKeys(
            expression(compile(df, args.head).cast(StringType)),
            expression(transform(compile(df, args(1)),
              k => k.cast(StringType))))))
        }
        // split at 0-based indices (negative = from the end, clamped):
        // bounds = [0, …normalized…, n]; slice k = [b_k, b_{k+1}).
        // A single index and an index array both work (Kusto's forms).
        case "array_split" =>
          val arr = compile(df, args.head)
          val n = size(arr)
          val rawIx = infer(df, args(1)) match {
            case KT.Arr => compile(df, args(1))
            case _ => array(compile(df, args(1)))
          }
          val norm = transform(rawIx, i => {
            val ii = i.cast(IntegerType)
            greatest(lit(0), least(n, when(ii < 0, n + ii).otherwise(ii)))
          })
          val bounds = concat(array(lit(0)), norm, array(n))
          transform(sequence(lit(0), size(norm)), k => {
            val lo = try_element_at(bounds, k + lit(1))
            val hi = try_element_at(bounds, k + lit(2))
            slice(arr, lo + lit(1), greatest(lit(0), hi - lo))
          })
        case "percentile_tdigest" =>
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val p = args(1) match {
            case IntLit(v) => v.toDouble
            case FloatLit(v) => v
            case _ => throw KqlParseException(
              "percentile_tdigest() percentile must be a numeric literal", 0)
          }
          column(graft.functions.PercentileTDigest(
            expression(compile(df, args.head)), p))
        // heavy-hitters readout: (item, count) structs from a combined
        // topk_accum/merge_topk sketch state (arity checked at parse time)
        case "topk_estimate" =>
          val k = args(1) match {
            case IntLit(v) => v.toInt
            case _ => throw KqlParseException(
              "topk_estimate() k must be an integer literal", 0)
          }
          // the estimate reads its state unguarded: a null state (the
          // merge of no sketches) must stay null instead of failing
          val state = compile(df, args.head)
          when(state.isNotNull, call_function("approx_top_k_estimate", state, lit(k)))
        case "array_length" => size(compile(df, args.head)).cast(LongType)
        // null args are skipped entirely (concat_ws semantics — DuckDB's
        // concat_ws agrees, so both engines render the same string)
        case "strcat_delim" =>
          val delim = args.head match {
            case StrLit(v) => v
            case _ => throw KqlParseException(
              "strcat_delim() delimiter must be a string literal", 0)
          }
          concat_ws(delim, args.tail.map(a => compile(df, a).cast(StringType)): _*)
        // strcat_array(arr, delim): join array elements into one string
        // (Kusto strcat_array). Null elements are skipped (concat_ws
        // semantics via array_join's null-replacement being absent).
        case "strcat_array" =>
          val delim = args(1) match {
            case StrLit(v) => v
            case _ => throw KqlParseException(
              "strcat_array() delimiter must be a string literal", 0)
          }
          // a variant array (todynamic / bag fields) casts element-wise to
          // strings first — transform cannot walk a bare VARIANT
          val arrIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(StringType))
            case _ => compile(df, args.head)
          }
          array_join(transform(arrIn, e => e.cast(StringType)), delim)

        // Kusto places nulls LAST in both sort directions; Spark's
        // array_sort (asc) and sort_array(…, false) (desc) both do too —
        // the asc form must NOT be sort_array(…, true), which is
        // nulls-first
        // spherical line/ring metrics over GeoJSON coordinates — the
        // same haversine/R as geo_distance_2points; polygon area is the
        // spherical shoelace Σ(λ2−λ1)(2+sinφ1+sinφ2)·R²/2 (holes
        // subtract). Both formulas replay in SQL; oracle outputs are
        // binned to absorb libm last-ulp divergence (the trig-family
        // convention). Input: the coordinates array itself, or a GeoJSON
        // bag (its $.coordinates is taken). Rings follow GeoJSON's
        // closed-ring convention (first point repeated last).
        case "geo_line_length" | "geo_polygon_perimeter" |
            "geo_polygon_area" =>
          val c0 = compile(df, args.head)
          val lineT = ArrayType(ArrayType(DoubleType))
          val polyT = ArrayType(ArrayType(ArrayType(DoubleType)))
          def geoBase(t: org.apache.spark.sql.types.DataType): Column =
            infer(df, args.head) match {
              case KT.Var => coalesce(
                try_variant_get(c0, "$.coordinates", "variant"), c0)
                .try_cast(t)
              case _ => c0.try_cast(t)
            }
          def lngOf(r: Column, i: Column) = element_at(element_at(r, i), 1)
          def latOf(r: Column, i: Column) = element_at(element_at(r, i), 2)
          def hv(lo1: Column, la1: Column, lo2: Column, la2: Column) = {
            val p1 = radians(la1)
            val p2 = radians(la2)
            val a = pow(sin((p2 - p1) / 2), 2.0) + cos(p1) * cos(p2) *
              pow(sin((radians(lo2) - radians(lo1)) / 2), 2.0)
            lit(2.0 * 6371000.0) * asin(sqrt(a))
          }
          def ringLen(r: Column): Column =
            when(size(r) >= 2, aggregate(sequence(lit(2), size(r)),
              lit(0.0), (acc, i) => acc + hv(lngOf(r, i - 1),
                latOf(r, i - 1), lngOf(r, i), latOf(r, i))))
              .otherwise(lit(0.0))
          def ringArea(r: Column): Column =
            abs(when(size(r) >= 3, aggregate(sequence(lit(2), size(r)),
              lit(0.0), (acc, i) =>
                acc + (radians(lngOf(r, i)) - radians(lngOf(r, i - 1))) *
                  (lit(2.0) + sin(radians(latOf(r, i - 1))) +
                    sin(radians(latOf(r, i))))))
              .otherwise(lit(0.0))) * lit(6371000.0 * 6371000.0 / 2.0)
          name match {
            case "geo_line_length" => ringLen(geoBase(lineT))
            case "geo_polygon_perimeter" =>
              aggregate(geoBase(polyT), lit(0.0),
                (acc, r) => acc + ringLen(r))
            case _ =>
              val poly = geoBase(polyT)
              val outer = ringArea(element_at(poly, 1))
              val holes = when(size(poly) > 1,
                aggregate(slice(poly, lit(2),
                  greatest(size(poly) - 1, lit(0))),
                  lit(0.0), (acc, r) => acc + ringArea(r)))
                .otherwise(lit(0.0))
              greatest(outer - holes, lit(0.0))
          }

        case "array_sort_asc" | "array_sort_desc" if args.length > 1 =>
          // co-sort: zip positions into structs (first array is the key;
          // ties break by the paired values — deterministic), sort, and
          // unzip into a variant array-of-arrays (Kusto's single-assign
          // shape: result[i] is the i-th input, permuted). Length
          // mismatch → null (Kusto's rule). element_at re-evaluates the
          // paired arrays per position — bins-scale inputs by contract.
          // Spark cannot order VARIANT, so dynamic arrays sort via the
          // cross-type total-order byte key (VariantSortKey) and carry
          // their value as JSON text in the struct payload.
          val varFlags = args.map(a => infer(df, a) == KT.Var)
          val arrs = args.zip(varFlags).map { case (a, v) =>
            if (v) compile(df, a).try_cast(ArrayType(VariantType))
            else compile(df, a)
          }
          def orderKeyOf(e: Column, v: Boolean): Column = {
            import org.apache.spark.sql.GraftColumnBridge.{column, expression}
            if (v) column(graft.functions.VariantSortKey(expression(e))) else e
          }
          val zipped = transform(arrs.head, (x, i) => {
            val elems = x +: arrs.tail.map(b => element_at(b, i + 1))
            val keys = elems.zip(varFlags).zipWithIndex.map {
              case ((e, v), j) => orderKeyOf(e, v).alias(s"k${j + 1}") }
            val payloads = elems.zip(varFlags).zipWithIndex.map {
              case ((e, v), j) =>
                (if (v) to_json(e) else e).alias(s"p${j + 1}") }
            struct(keys ++ payloads: _*)
          })
          val sorted =
            if (name == "array_sort_asc") array_sort(zipped)
            else sort_array(zipped, asc = false)
          val outs = arrs.indices.map { j =>
            val vals = transform(sorted, s => s.getField(s"p${j + 1}"))
            if (varFlags(j)) // payload is per-element JSON text already
              concat(lit("["), array_join(vals, ",", "null"), lit("]"))
            else to_json(vals)
          }
          val ok = arrs.tail
            .map(b => size(b) === size(arrs.head))
            .foldLeft(lit(true))(_ && _)
          when(ok, try_parse_json(
            concat(lit("["), concat_ws(",", outs: _*), lit("]"))))
        case "array_sort_asc" => array_sort(compile(df, args.head))
        case "array_sort_desc" => sort_array(compile(df, args.head), asc = false)
        case "array_reverse" => reverse(compile(df, args.head))
        case "array_concat" => concat(args.map(a => compile(df, a)): _*)
        // zero-based INCLUSIVE [start, end], negatives index from the end
        // (-1 = last), out-of-range clamps — Kusto's slice contract
        case "array_slice" =>
          val arr = compile(df, args.head)
          val n = size(arr)
          def norm(a: Expr, lo: Boolean): Column = {
            val i = compile(df, a).cast(IntegerType)
            val fromEnd = n + i
            if (lo) when(i < 0, greatest(fromEnd, lit(0))).otherwise(i)
            else when(i < 0, fromEnd).otherwise(least(i, n - lit(1)))
          }
          val s0 = norm(args(1), lo = true)
          val e0 = norm(args(2), lo = false)
          slice(arr, s0 + lit(1), greatest(e0 - s0 + lit(1), lit(0)))
        // 0-based first index of value, -1 when absent (array_position is
        // 1-based with 0-absent, so the -1 shift needs no null handling)
        case "array_index_of" if args.length == 2 =>
          (array_position(compile(df, args.head), compile(df, args(1)))
            - lit(1L)).cast(LongType)
        // full Kusto form: matches restricted to [start, start+length),
        // occurrence k picked from the filtered position list — pure
        // transform/filter HOFs, codegen'd, no explode
        case "array_index_of" =>
          val arr = compile(df, args.head)
          val v = compile(df, args(1))
          val st = compile(df, args(2)).try_cast(LongType)
          val lenRaw = args.lift(3).map(a => compile(df, a).try_cast(LongType))
            .getOrElse(lit(-1L))
          val k = args.lift(4).map(_.asInstanceOf[IntLit].v.toInt).getOrElse(1)
          val pos = filter(
            transform(arr, (x, i) => when(x === v, i.cast(LongType))),
            e => e.isNotNull && e >= st &&
              (lenRaw < 0L || e < st + lenRaw))
          coalesce(try_element_at(pos, lit(k)), lit(-1L))
        // shifts: out[i] = arr[i + n] where in range, else fill (default
        // null); a negative count shifts the other way. Pure transform-
        // with-index lambdas — codegen'd, no UDF, no explode
        case "array_shift_left" | "array_shift_right" =>
          val arr = compile(df, args.head)
          val sgn = if (name == "array_shift_left") 1 else -1
          val n = (compile(df, args(1)).try_cast(LongType) * lit(sgn))
            .cast(IntegerType)
          val fill = args.lift(2).map(a => compile(df, a))
            .getOrElse(lit(null))
          val sz = size(arr)
          transform(arr, (_, i) => {
            val idx = i + n
            when(idx >= 0 && idx < sz, get(arr, idx)).otherwise(fill)
          })
        // rotations: circular shift via pmod-wrapped index
        case "array_rotate_left" | "array_rotate_right" =>
          val arr = compile(df, args.head)
          val sgn = if (name == "array_rotate_left") 1 else -1
          val n = (compile(df, args(1)).try_cast(LongType) * lit(sgn))
            .cast(IntegerType)
          val sz = size(arr)
          transform(arr, (_, i) => get(arr, pmod(i + n, sz)))
        // element-wise conditional: scalars broadcast, short arrays pad
        // with null (get() is null out of bounds), non-bool cond → null
        case "array_iff" =>
          val cond = compile(df, args.head)
          def pick(a: Expr, i: Column): Column = infer(df, a) match {
            case KT.Arr => get(compile(df, a), i)
            case KT.Var => get(compile(df, a).try_cast(
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.VariantType)), i)
            case _ => compile(df, a)
          }
          transform(cond, (c, i) => {
            val cb = c.try_cast(BooleanType)
            when(cb.isNull, lit(null))
              .when(cb, pick(args(1), i))
              .otherwise(pick(args(2), i))
          })
        // |A∩B| / |A∪B| over distinct elements (array_intersect/union
        // both dedup); empty∪empty → null, not NaN. Variant arrays
        // compare via their string forms (documented narrowing)
        case "jaccard_index" =>
          def asSet(i: Int): Column = infer(df, args(i)) match {
            case KT.Var => compile(df, args(i)).try_cast(ArrayType(StringType))
            case _ => compile(df, args(i))
          }
          val a = asSet(0)
          val b = asSet(1)
          val inter = size(array_intersect(a, b)).cast(DoubleType)
          val uni = size(array_union(a, b)).cast(DoubleType)
          when(uni > 0, inter / uni)
        // set/replace one top-level key; the VALUE may be any scalar or
        // dynamic (null sets JSON null — the key lands, Kusto's shape)
        case "bag_set_key" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val bag = compile(df, args.head).cast(StringType)
          val key = compile(df, args(1)).cast(StringType)
          val vc = compile(df, args(2))
          val vjson = infer(df, args(2)) match {
            case KT.Var => vc.cast(StringType)
            case KT.Str | KT.Ts =>
              val q = to_json(array(vc))
              q.substr(lit(2), length(q) - 2)
            case KT.Arr => to_json(vc)
            case _ => vc.cast(StringType)
          }
          try_parse_json(column(graft.functions.BagSetKey(
            expression(bag), expression(key), expression(vjson))))
        }
        // sequential left fold in element order — deterministic, and
        // replayable by an oracle as the same IEEE operation sequence
        case "array_sum" =>
          aggregate(compile(df, args.head), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType))
        // series elementwise arithmetic (Kusto series_add/…): zip_with in
        // Kusto's shorter-series semantics — the result has the SHORTER
        // length would drop data, so Kusto pads with null; zip_with pads
        // the shorter side with null and null arithmetic yields null,
        // which matches. Divide works in double (KQL '/' rule); the
        // others keep the zipped element types.
        case "series_add" =>
          zip_with(compile(df, args.head), compile(df, args(1)), (x, y) => x + y)
        case "series_subtract" =>
          zip_with(compile(df, args.head), compile(df, args(1)), (x, y) => x - y)
        case "series_multiply" =>
          zip_with(compile(df, args.head), compile(df, args(1)), (x, y) => x * y)
        case "series_divide" =>
          zip_with(compile(df, args.head), compile(df, args(1)),
            (x, y) => x.cast(DoubleType) / y.cast(DoubleType))
        case "series_abs" =>
          transform(compile(df, args.head), e => abs(e))
        // elementwise transcendental/rounding family (double out; null
        // elements stay null — Spark's math fns propagate nulls)
        case "series_exp" =>
          transform(compile(df, args.head), e => exp(e.cast(DoubleType)))
        case "series_log" =>
          transform(compile(df, args.head), e => log(e.cast(DoubleType)))
        case "series_sign" =>
          transform(compile(df, args.head), e => signum(e.cast(DoubleType)))
        // Spark's floor/ceil return BIGINT — cast back, the series stays real
        case "series_floor" =>
          transform(compile(df, args.head),
            e => floor(e.cast(DoubleType)).cast(DoubleType))
        case "series_ceiling" =>
          transform(compile(df, args.head),
            e => ceil(e.cast(DoubleType)).cast(DoubleType))
        // binary elementwise with Kusto's scalar broadcast: a non-array
        // second operand applies to every element. Array×array zips with
        // null-pad (same shorter-series rule as series_add)
        case "series_pow" =>
          seriesBinary(df, args, (x, y) =>
            pow(x.cast(DoubleType), y.cast(DoubleType)))
        case "series_greater" => seriesBinary(df, args, (x, y) => x > y)
        case "series_less" => seriesBinary(df, args, (x, y) => x < y)
        case "series_greater_equals" =>
          seriesBinary(df, args, (x, y) => x >= y)
        case "series_less_equals" => seriesBinary(df, args, (x, y) => x <= y)
        case "series_equals" => seriesBinary(df, args, (x, y) => x === y)
        case "series_not_equals" => seriesBinary(df, args, (x, y) => x =!= y)
        // reductions. Kusto ERRORS on length mismatch / null elements;
        // our row-error policy nulls instead: zip_with pads the shorter
        // side with null, null arithmetic poisons the fold, and the
        // whole result degrades to null (documented deviation)
        case "series_dot_product" =>
          seriesDot(compile(df, args.head), compile(df, args(1)))
        case "series_magnitude" =>
          val a = compile(df, args.head)
          sqrt(seriesDot(a, a))
        case "series_cosine_similarity" =>
          val a = compile(df, args.head)
          val b = compile(df, args(1))
          val den = sqrt(seriesDot(a, a)) * sqrt(seriesDot(b, b))
          when(den =!= 0.0, seriesDot(a, b) / den)
        case "series_pearson_correlation" =>
          val a = transform(compile(df, args.head), e => e.cast(DoubleType))
          val b = transform(compile(df, args(1)), e => e.cast(DoubleType))
          val n = size(a).cast(DoubleType)
          def s(arr: Column): Column =
            aggregate(arr, lit(0.0), (acc, x) => acc + x)
          val sx = s(a); val sy = s(b)
          val sxx = s(transform(a, x => x * x))
          val syy = s(transform(b, x => x * x))
          val sxy = s(zip_with(a, b, (x, y) => x * y))
          val den = sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
          when(size(a) === size(b) && den =!= 0.0,
            (n * sxy - sx * sy) / den)
        // least-squares line over x = 0..n−1 as a bag (Kusto's
        // series_fit_line_dynamic shape): slope, interception, rsquare,
        // variance (population, of the input), rvariance (population, of
        // the residuals), line_fit (the fitted values). n < 2 or any
        // null element → null
        // tuple forms (struct-valued, consumed via multi-assign): the
        // same kernels as their _dynamic twins, fields in ADX's
        // positional order
        case "series_stats" =>
          val sIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => compile(df, args.head)
          }
          val ad = transform(sIn, e => e.cast(DoubleType))
          val mn = array_min(ad)
          val mx = array_max(ad)
          val n = size(ad)
          val s1 = aggregate(ad, lit(0.0), (acc, x) => acc + coalesce(x, lit(0.0)))
          val s2 = aggregate(ad, lit(0.0),
            (acc, x) => acc + coalesce(x * x, lit(0.0)))
          val nd = n.cast(DoubleType)
          val avg0 = when(n > 0, s1 / nd)
          // sample variance (n−1); degenerate n <= 1 → 0.0
          val variance = when(n > 1,
            (s2 - s1 * s1 / nd) / (nd - 1.0)).otherwise(lit(0.0))
          // a null element poisons the whole tuple (ADX default
          // ignore_nonfinite=false) — without the gate min/max would
          // skip nulls while the sums coalesced them to 0, mixing two
          // different answers in one struct (the series_fit_line okFit
          // pattern)
          val noNulls = !exists(ad, e => e.isNull)
          when(noNulls, struct(
            mn.as("min"),
            (array_position(ad, mn) - 1).cast(LongType).as("min_idx"),
            mx.as("max"),
            (array_position(ad, mx) - 1).cast(LongType).as("max_idx"),
            avg0.as("avg"),
            sqrt(greatest(variance, lit(0.0))).as("stdev"),
            variance.as("variance")))
        case "series_fit_2lines" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val yIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, args.head),
              e => e.cast(DoubleType))
          }
          // kernel struct order: rsquare, split_idx, variance, rvariance,
          // line_fit, left, right — the first five ARE ADX's tuple order
          column(graft.functions.SeriesFit2LinesExpr(expression(yIn)))
        }
        case "series_fit_line" | "series_fit_line_dynamic" =>
          // a variant (todynamic / make-series default) array must become
          // a typed array before the lambda walk
          val yIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => compile(df, args.head)
          }
          val y = transform(yIn, e => e.cast(DoubleType))
          val n = size(y).cast(DoubleType)
          def s(arr: Column): Column =
            aggregate(arr, lit(0.0), (acc, x) => acc + x)
          val idx = transform(y, (_, i) => i.cast(DoubleType))
          val sy = s(y)
          val sxy = s(zip_with(idx, y, (x, v) => x * v))
          val sx = (n - 1.0) * n / 2.0
          val sxx = (n - 1.0) * n * (lit(2.0) * n - 1.0) / 6.0
          val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
          val icept = (sy - slope * sx) / n
          val fit = transform(idx, x => icept + slope * x)
          val meanY = sy / n
          val variance = s(transform(y, v => (v - meanY) * (v - meanY))) / n
          val rvariance = s(zip_with(y, fit,
            (v, f) => (v - f) * (v - f))) / n
          val rsquare = when(variance =!= 0.0, lit(1.0) - rvariance / variance)
          // the null-element gate must be explicit: a null y poisons
          // slope/variance to null, and to_json would then DROP those
          // struct fields, leaving a partial bag instead of the
          // documented whole-result null
          val okFit = size(y) >= 2 && size(filter(y, e => e.isNull)) === 0
          val fitStruct = struct(
            rsquare.as("rsquare"), slope.as("slope"),
            variance.as("variance"), rvariance.as("rvariance"),
            icept.as("interception"), fit.as("line_fit"))
          if (name == "series_fit_line") when(okFit, fitStruct) // tuple form
          else when(okFit, try_parse_json(to_json(fitStruct)))
        // per-phase median seasonal component (typed array out) and the
        // IIR filter — native kernels
        case "series_seasonal" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val p = args.lift(1).map {
            case IntLit(v) => v.toInt
            case Neg(IntLit(v)) => (-v).toInt
            case _ => throw KqlParseException(
              "series_seasonal period must be an integer literal", 0)
          }.getOrElse(-1)
          val yIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, args.head),
              e => e.cast(DoubleType))
          }
          column(graft.functions.SeriesSeasonalExpr(expression(yIn), p))
        }
        case "series_fft" | "series_ifft" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          def arr(e0: Expr): Column = infer(df, e0) match {
            case KT.Var => compile(df, e0).try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, e0), e => e.cast(DoubleType))
          }
          val reC = arr(args.head)
          // 1-arg form: imaginary part defaults to all-zeros (ADX)
          val imC = if (args.length == 2) arr(args(1))
                    else transform(reC, _ => lit(0.0))
          column(graft.functions.SeriesFftExpr(
            expression(reC), expression(imC), name == "series_ifft"))
        }
        case "series_iir" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          def arrArg(e: Expr): Column = infer(df, e) match {
            case KT.Var => compile(df, e).try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, e), x => x.cast(DoubleType))
          }
          column(graft.functions.SeriesIirExpr(
            expression(arrArg(args(0))), expression(arrArg(args(1))),
            expression(arrArg(args(2)))))
        }
        // two-segment least-squares changepoint fit: native kernel, bag
        // result (the fit-line shape); split minimizes total RSS
        case "series_fit_2lines_dynamic" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val yIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, args.head),
              e => e.cast(DoubleType))
          }
          try_parse_json(to_json(column(
            graft.functions.SeriesFit2LinesExpr(expression(yIn)))))
        }
        // seasonal decomposition family (Kusto series_decompose /
        // series_decompose_anomalies / series_periods_detect), native
        // per-row kernels with DOCUMENTED deterministic rules — ACF
        // period detection, per-phase-median seasonal, avg/linefit
        // trend, series_outliers-rule anomaly scoring (SeriesDecompose
        // .scala). Results are bags (the series_fit_line_dynamic shape).
        // forecast: train on all but the last `points` slots (their
        // values are ignored — typically the null/zero future slots of
        // an extended make-series), output the full extrapolated
        // baseline as a plain array<double>
        case "series_decompose_forecast" =>
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          def iLitF(e: Expr, what: String): Int = e match {
            case IntLit(v) => v.toInt
            case Neg(IntLit(v)) => (-v).toInt
            case _ => throw KqlParseException(
              s"$what must be an integer literal", 0)
          }
          val trendK = args.lift(3).map {
            case StrLit(v @ ("avg" | "linefit" | "none")) => v
            case _ => throw KqlParseException(
              "trend must be 'avg', 'linefit' or 'none'", 0)
          }.getOrElse("linefit")
          val yF = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, args.head),
              e => e.cast(DoubleType))
          }
          column(graft.functions.SeriesForecastExpr(expression(yF),
            iLitF(args(1), "points"),
            args.lift(2).map(iLitF(_, "seasonality")).getOrElse(-1),
            trendK))

        case "series_decompose" | "series_decompose_anomalies" |
            "series_periods_detect" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          def iLit(e: Expr, what: String): Int = e match {
            case IntLit(v) => v.toInt
            case FloatLit(v) => v.toInt
            case Neg(IntLit(v)) => (-v).toInt
            case _ => throw KqlParseException(
              s"$what must be an integer literal", 0)
          }
          def dLit(e: Expr, what: String): Double = e match {
            case IntLit(v) => v.toDouble
            case FloatLit(v) => v
            case _ => throw KqlParseException(
              s"$what must be a numeric literal", 0)
          }
          def tLit(e: Expr): String = e match {
            case StrLit(v @ ("avg" | "linefit" | "none")) => v
            case _ => throw KqlParseException(
              "trend must be 'avg', 'linefit' or 'none'", 0)
          }
          val yIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, args.head),
              e => e.cast(DoubleType))
          }
          val kernel = name match {
            case "series_decompose" =>
              graft.functions.SeriesDecomposeExpr(expression(yIn),
                args.lift(1).map(iLit(_, "period")).getOrElse(-1),
                args.lift(2).map(tLit).getOrElse("avg"))
            case "series_decompose_anomalies" =>
              graft.functions.SeriesAnomaliesExpr(expression(yIn),
                args.lift(1).map(dLit(_, "threshold")).getOrElse(1.5),
                args.lift(2).map(iLit(_, "period")).getOrElse(-1),
                args.lift(3).map(tLit).getOrElse("linefit"))
            case _ =>
              graft.functions.SeriesPeriodsExpr(expression(yIn),
                iLit(args(1), "min_period"), iLit(args(2), "max_period"),
                iLit(args(3), "num_periods"))
          }
          try_parse_json(to_json(column(kernel)))
        }
        // Tukey-fence anomaly scores, with a DOCUMENTED deterministic
        // rule (Kusto's exact scoring formula is unpublished): exact
        // rank-rule quartiles ceil(p·n) over the non-null sorted copy,
        // score = (x − median)/IQR when x is outside
        // [q1 − 1.5·IQR, q3 + 1.5·IQR], else 0; null elements stay null;
        // degenerate IQR = 0 scores everything 0. O(bins·log bins) per
        // series — bins per make-series row, never the corpus.
        case "series_outliers" =>
          val arr = transform(compile(df, args.head),
            e => e.cast(DoubleType))
          val nn = array_sort(filter(arr, e => e.isNotNull))
          val n = size(nn)
          def q(p: Double): Column =
            try_element_at(nn, ceil(n * lit(p)).cast(IntegerType))
          val q1 = q(0.25); val q3 = q(0.75); val med = q(0.5)
          val iqr = q3 - q1
          transform(arr, x =>
            when(x.isNull, lit(null).cast(DoubleType))
              .when(iqr === lit(0.0), lit(0.0))
              .when(x > q3 + lit(1.5) * iqr, (x - med) / iqr)
              .when(x < q1 - lit(1.5) * iqr, (x - med) / iqr)
              .otherwise(lit(0.0)))
        // series fills: nulls replaced by a constant / the nearest
        // non-null neighbor. Forward/backward look up the neighbor with
        // a slice+filter per element — O(bins²) HOF evaluation, fine by
        // construction (a series is one make-series row's bins, not the
        // corpus); coalesce keeps the lookup lazy for non-null elements
        case "series_fill_const" =>
          val cv = compile(df, args(1))
          transform(compile(df, args.head), e => coalesce(e, cv))
        case "series_fill_forward" =>
          val arr = compile(df, args.head)
          transform(arr, (e, i) => coalesce(e,
            try_element_at(
              filter(slice(arr, lit(1), i + 1), x => x.isNotNull),
              lit(-1))))
        case "series_fill_backward" =>
          val arr = compile(df, args.head)
          transform(arr, (e, i) => coalesce(e,
            try_element_at(
              filter(slice(arr, i + 1, size(arr) - i), x => x.isNotNull),
              lit(1))))
        // linear interpolation of interior null runs (native kernel);
        // edges take the nearest non-null, all-null passes through
        case "series_fill_linear" => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val yIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => transform(compile(df, args.head),
              e => e.cast(DoubleType))
          }
          column(graft.functions.SeriesFillLinearExpr(expression(yIn)))
        }
        // scalar reducers over a series; sum/avg in double (KQL sum rule),
        // min/max keep the element type
        case "series_sum" =>
          aggregate(compile(df, args.head), lit(0.0),
            (acc, x) => acc + coalesce(x.cast(DoubleType), lit(0.0)))
        case "series_avg" =>
          // empty series → null, not 0/0 = NaN
          val arr = compile(df, args.head)
          when(size(arr) > 0,
            aggregate(arr, lit(0.0),
              (acc, x) => acc + coalesce(x.cast(DoubleType), lit(0.0))) /
              size(arr).cast(DoubleType))
        case "series_min" => array_min(compile(df, args.head))
        case "series_max" => array_max(compile(df, args.head))
        // estimate a stored/merged HLL sketch (see Aggregation.Hll)
        case "dcount_hll" => hll_sketch_estimate(compile(df, args.head))
        // scalar union of sketch values (the aggregate hll_merge reduces
        // a column; this merges within one row)
        case "hll_merge" => args.map(a => compile(df, a))
          .reduceLeft((x, y) => call_function("hll_union", x, y))
        // Kusto series_stats_dynamic subset: {min, min_idx, max, max_idx,
        // avg, sum, len} as a dynamic bag (stdev omitted — accumulation-
        // order-dependent; avg is one IEEE division of exact operands).
        // Indices are 0-based first-occurrence, Kusto's convention.
        case "series_stats_dynamic" =>
          val sIn = infer(df, args.head) match {
            case KT.Var => compile(df, args.head)
              .try_cast(ArrayType(DoubleType))
            case _ => compile(df, args.head)
          }
          val ad = transform(sIn, e => e.cast(DoubleType))
          val mn = array_min(ad)
          val mx = array_max(ad)
          val s = aggregate(ad, lit(0.0), (acc, x) => acc + coalesce(x, lit(0.0)))
          val ln = size(ad)
          parse_json(to_json(named_struct(
            lit("min"), mn,
            lit("min_idx"), (array_position(ad, mn) - 1).cast(LongType),
            lit("max"), mx,
            lit("max_idx"), (array_position(ad, mx) - 1).cast(LongType),
            lit("avg"), when(ln > 0, s / ln.cast(DoubleType)),
            lit("sum"), s,
            lit("len"), ln.cast(LongType))))
        // FIR filter (Kusto series_fir): y[i] = Σ_j w[j]·x[i−j] over the
        // TRAILING window, PARTIAL at the series head (only the weights
        // that overlap the series contribute; normalize then divides by
        // the sum of the weights actually used, so a normalized moving
        // average stays an average of the available points — the edge
        // behavior a smoothing pipeline wants). Pure codegen'd array
        // lambdas; doubles throughout (Kusto series are f64).
        case "series_fir" =>
          val x = compile(df, args.head)
          val w = compile(df, args(1))
          val normalize = args.lift(2) match {
            case Some(BoolLit(b)) => b
            case _ => false
          }
          val fir = transform(x, (_, i) => {
            val used = sequence(lit(0), least(i, size(w) - 1))
            val num = aggregate(used, lit(0.0), (acc, j) =>
              acc + element_at(w, j + 1).cast(DoubleType) *
                element_at(x, i - j + 1).cast(DoubleType))
            if (!normalize) num
            else num / aggregate(used, lit(0.0), (acc, j) =>
              acc + element_at(w, j + 1).cast(DoubleType))
          })
          // empty weights → null result; unguarded, sequence(0, -1) would
          // generate a DESCENDING [0, -1] and crash on element_at(w, 0).
          // CaseWhen evaluates the branch lazily, so the guard is real.
          when(size(w) > 0, fir)

        // Kusto's set results have unspecified order; sorted here so the
        // output is deterministic (same choice as make_set — SCALE.md)
        case "set_union" =>
          array_sort(array_distinct(
            concat(compile(df, args.head), compile(df, args(1)))))
        case "set_intersect" =>
          array_sort(array_distinct(
            array_intersect(compile(df, args.head), compile(df, args(1)))))
        case "set_difference" =>
          array_sort(array_except(compile(df, args.head), compile(df, args(1))))
        case "pack_array" =>
          array(args.map(a => compile(df, a)): _*)
        // keys of a dynamic object, sorted (Kusto order is unspecified);
        // non-object values → null (json_object_keys contract). The bag
        // renders through its canonical JSON text — cheap for the
        // control-plane-sized bags this targets
        case "bag_keys" =>
          array_sort(json_object_keys(compile(df, args.head).cast(StringType)))
        case "bag_has_key" =>
          array_contains(
            json_object_keys(compile(df, args.head).cast(StringType)),
            compile(df, args(1)).cast(StringType))
        case "set_has_element" =>
          array_contains(compile(df, args.head), compile(df, args(1)))
        case "repeat" =>
          array_repeat(compile(df, args.head),
            compile(df, args(1)).try_cast(IntegerType))
        // zip: element-wise grouping to the LONGEST argument, shorter
        // arrays null-pad (Kusto's rule); elements come out as arrays,
        // not structs, matching Kusto's array-of-arrays shape
        case "zip" =>
          val arrs = args.map(a => compile(df, a))
          val mx = greatest(arrs.map(a => coalesce(size(a), lit(0))): _*)
          // indices 0..mx-1 without sequence(0, -1) (which would DESCEND
          // for empty inputs): sequence(0, mx) then slice off the tail
          val idx = slice(sequence(lit(0), mx), lit(1), mx)
          transform(idx, i => array(arrs.map(a => get(a, i)): _*))
        // scalar range(): inclusive stop, like Kusto (and unlike the
        // exclusive make-series grid); integral-only surface. The guard
        // matters: Spark's sequence() THROWS on a zero step or a
        // direction-mismatched step — row-error policy demands null, not
        // a dead 10-hour job (when() evaluates the branch lazily per row)
        case "range_arr" =>
          val lo = compile(df, args.head).try_cast(LongType)
          val hi = compile(df, args(1)).try_cast(LongType)
          val step = args.lift(2).map(a => compile(df, a).try_cast(LongType))
            .getOrElse(lit(1L))
          when((step > 0L && lo <= hi) || (step < 0L && lo >= hi),
            sequence(lo, hi, step))
            .when(lo.isNotNull && hi.isNotNull &&
              step.isNotNull && step =!= 0L,
              array().cast(org.apache.spark.sql.types.ArrayType(LongType)))
        // literal-keyed dynamic object; round-trips through the variant
        // machinery so b.key paths and re-unpack work on the result
        case "bag_pack" =>
          val fields = args.grouped(2).flatMap { kv =>
            Seq(lit(kv.head.asInstanceOf[StrLit].v), compile(df, kv(1)))
          }.toSeq
          parse_json(to_json(named_struct(fields: _*)))
        // selected columns → dynamic bag keyed by their names (round 9)
        case "bag_pack_columns" =>
          val fields = args.flatMap { a =>
            val path = a.asInstanceOf[Expr.Field].path
            Seq(lit(path.parts.map(_.name).mkString(".")), compile(df, a))
          }
          parse_json(to_json(named_struct(fields: _*)))
        // whole row → dynamic bag (every current column by name)
        case "pack_all" =>
          parse_json(to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*)))
        // estimated row payload bytes (round 9, Kusto estimate_data_size):
        // fixed-width types by their width, strings/binary by length,
        // containers/variants by serialized JSON length; null → 0. The
        // per-type rule is OURS (documented) — ADX publishes the intent,
        // not exact constants.
        case "estimate_data_size" =>
          import org.apache.spark.sql.types._
          val names =
            if (args.isEmpty) df.columns.toSeq
            else args.map(_.asInstanceOf[Expr.Field].path.parts.head.name)
          val schema = df.schema
          val terms = names.map { n =>
            val c = col(s"`$n`")
            val sized = schema.find(_.name.equalsIgnoreCase(n))
              .map(_.dataType) match {
              case Some(LongType | DoubleType | TimestampType | DateType |
                  _: DecimalType) => when(c.isNotNull, 8L).otherwise(0L)
              case Some(IntegerType | FloatType) =>
                when(c.isNotNull, 4L).otherwise(0L)
              case Some(ShortType) => when(c.isNotNull, 2L).otherwise(0L)
              case Some(ByteType | BooleanType) =>
                when(c.isNotNull, 1L).otherwise(0L)
              case Some(StringType) =>
                coalesce(length(c).cast(LongType), lit(0L))
              case Some(BinaryType) =>
                coalesce(length(c).cast(LongType), lit(0L))
              case _ =>
                coalesce(length(to_json(c)).cast(LongType), lit(0L))
            }
            sized
          }
          terms.reduce(_ + _)
      }

    // serialized window scalars: ordered by the preceding sort's keys.
    // Outside `partition by` the window is intentionally UNPARTITIONED —
    // KQL's serialize model is a single total order, which is inherently
    // one partition. That is the right tool for post-aggregation frames
    // and bounded results; for data-scale sequences wrap the window in
    // `partition by key (…)`, which distributes the same scalars per key
    // (SCALE.md documents the boundary).
    case WinFn(name, args) =>
      import org.apache.spark.sql.expressions.Window
      val keys = serialOrder.getOrElse(throw KqlParseException(
        s"$name() requires a serialized input — add a 'sort by' first", 0))
      // inside `partition by` the frame is per-key and distributed; outside
      // it is the single total order the serialize contract demands
      val w = partitionKey match {
        case Some(pk) => Window.partitionBy(compileField(df, pk))
          .orderBy(keys.map(k => sortCol(df, k)): _*)
        case None => Window.orderBy(keys.map(k => sortCol(df, k)): _*)
      }
      name match {
        case "row_number" =>
          val base = row_number().over(w).cast(LongType)
          args.headOption match {
            case Some(IntLit(s)) => base + lit(s - 1L)
            case _ => base
          }
        case "prev" | "next" =>
          val c = compile(df, args.head)
          val off = args.lift(1) match {
            case Some(IntLit(k)) => k.toInt
            case _ => 1
          }
          def shifted(e: Column) =
            (if (name == "prev") lag(e, off) else lead(e, off)).over(w)
          val v = shifted(c)
          args.lift(2) match {
            // KQL's default fills only OUT-OF-BOUNDS rows, not genuine
            // nulls in range — a shifted constant sentinel is null exactly
            // when the requested row doesn't exist
            case Some(d) =>
              when(shifted(lit(1)).isNull, compile(df, d)).otherwise(v)
            case None => v
          }
        case "row_cumsum" =>
          val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val term = compile(df, args.head)
          val total = sum(term).over(frame)
          args.lift(1) match {
            case None => total
            // restart: a truthy flag starts a new segment AT that row —
            // subtract the running total as of just before the latest
            // restart (carried forward by last(ignoreNulls))
            case Some(r) =>
              val base = last(
                when(compileBool(df, r), total - term), ignoreNulls = true)
                .over(frame)
              total - coalesce(base, lit(0L))
          }
        // run-based ranks over the SERIALIZED order (Kusto: the input is
        // expected sorted by the term; the functions rank equal-value
        // RUNS): dense = 1 + count of value changes so far; min = the
        // row number where the current run started
        case "row_rank_dense" | "row_rank_min" =>
          val c = compile(df, args.head)
          val changed = when(lag(c, 1).over(w).isNull ||
            lag(c, 1).over(w) =!= c, 1L).otherwise(0L)
          val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          if (name == "row_rank_dense")
            sum(changed).over(frame).cast(LongType)
          else {
            val rn = row_number().over(w).cast(LongType)
            max(when(changed === 1L, rn)).over(frame).cast(LongType)
          }
        // greedy session start — a custom declarative window aggregate
        // (two-long running state inside the window exec, no state
        // machine; see graft.functions.RowWindowSession)
        case "row_window_session" =>
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit,
            UnspecifiedFrame, WindowExpression, WindowSpecDefinition,
            SortOrder => CatSortOrder}
          def micros(e: Expr): Long = e match {
            case TimespanLit(m) => m
            case IntLit(v) => v
            case _ => throw KqlParseException(
              "row_window_session durations must be timespan literals", 0)
          }
          val tsc = unix_micros(compile(df, args.head).try_cast(TimestampType))
          // the window spec is built directly with UnspecifiedFrame so the
          // function's own ROW frame applies (Column.over would pin the
          // default RANGE frame, which the analyzer rejects)
          val spec = WindowSpecDefinition(
            partitionKey.toSeq.map(pk => expression(compileField(df, pk))),
            keys.map { k =>
              import org.apache.spark.sql.catalyst.expressions.{
                Ascending, Descending, NullsFirst, NullsLast}
              val c0 = compileField(df, k.field)
              val c = if (fieldType(df, k.field) == KT.Var)
                variantOrderKey(c0) else c0
              CatSortOrder(expression(c),
                if (k.order == SortOrder.Asc) Ascending else Descending,
                if (k.nulls == NullsOrder.First) NullsFirst else NullsLast,
                Seq.empty)
            },
            UnspecifiedFrame)
          timestamp_micros(column(WindowExpression(
            graft.functions.RowWindowSession(
              expression(tsc), CatLit(micros(args(1))),
              CatLit(micros(args(2)))),
            spec)))
      }
  }

  // ───────────────────────── step lowering ─────────────────────────

  /** Every field path referenced anywhere in an expression (generic
    * product walk, so new Expr shapes are covered automatically). */
  private def fieldRefs(e: Expr): Seq[FieldPath] = {
    def walk(x: Any): Seq[FieldPath] = x match {
      case Field(p) => Seq(p)
      case xs: Seq[_] => xs.flatMap(walk(_))
      case p: Product => p.productIterator.toSeq.flatMap(walk(_))
      case _ => Nil
    }
    walk(e)
  }

  /** Source label of the pipeline currently being compiled (saved and
    * restored per [[compile]] call, so nested join/union subqueries never
    * leak their scan names into the enclosing pipeline's label). */
  private var pipelineSource: String = "unknown"

  /** Hidden per-row provenance column maintained across chained unions so
    * `union withsource=` labels each row's TRUE origin (a row that arrived
    * via an earlier `union B` is labeled `B`, not the pipeline head). Kept
    * only while compiling a union's branch; dropped when any other
    * compile (top-level, join/let subquery) returns. */
  private val UnionSrcCol = "__graft_union_src"
  private var keepUnionSrc = false

  /** Graph context produced by make-graph, consumed by the next
    * graph-match: (edges with __gsrc/__gdst/__geid, nodes, node-id col).
    */
  private var pendingGraph: Option[(DataFrame, DataFrame, String)] = None

  /** TupleGet's struct-schema probe runs a full analysis of the
    * upstream plan; a multi-assign re-probes the SAME (frame, expr) once
    * per bound name, so the result is memoized per compiler instance
    * (frames compare by identity — each step produces a fresh one). */
  private final class FrameKey(val df: DataFrame) {
    // reference identity, not identityHashCode alone — hash codes can
    // collide across live frames, which would silently reuse the wrong
    // struct schema
    override def hashCode: Int = System.identityHashCode(df)
    override def equals(o: Any): Boolean = o match {
      case k: FrameKey => k.df eq df
      case _ => false
    }
  }
  private val tupleTypeCache =
    scala.collection.mutable.HashMap.empty[(FrameKey, Expr), DataType]
  private def tupleStructType(df: DataFrame, e: Expr): DataType =
    tupleTypeCache.getOrElseUpdate(
      (new FrameKey(df), e),
      df.select(compile(df, e)).schema.head.dataType)

  def compile(q: Query): DataFrame = {
    val saved = pipelineSource
    pipelineSource = sourceNameOf(q)
    val out = q.steps.foldLeft(null.asInstanceOf[DataFrame]) { (df, step) =>
      compileStep(df, step)
    }
    pipelineSource = saved
    if (!keepUnionSrc && out.columns.contains(UnionSrcCol))
      out.drop(UnionSrcCol)
    else out
  }

  /** Display name of a pipeline's source, from its AST head — what
    * `union withsource=` stamps on that branch's rows. Pure (no
    * compile-order state): a join/let inside a branch cannot leak its
    * own scan name into the label. */
  private def sourceNameOf(q: Query): String = q.steps.headOption match {
    case Some(QueryStep.Scan(source)) => source
    case Some(_: QueryStep.RawScan) => "raw"
    case Some(_: QueryStep.RangeScan) => "range"
    case Some(_: QueryStep.DataTable) => "datatable"
    case Some(_: QueryStep.ExternalData) => "externaldata"
    case Some(_: QueryStep.Print) => "print"
    case _ => "unknown"
  }

  /** Apply a step suffix to an already-materialized DataFrame — used by the
    * partial-stream path to run the post-aggregation steps (sort/top/limit/
    * project) against each refining snapshot in batch mode, where blocking
    * operators are legal.
    */
  def applySteps(df: DataFrame, steps: Seq[QueryStep]): DataFrame =
    steps.foldLeft(df)(compileStep)

  // Consumed-once: with streamFirstScan, only the FIRST scan compiled (the
  // top-level pipeline's source, or the source inside the `let` it opens
  // with) resolves as a streaming DataFrame; join/union subqueries compile
  // later and stay batch, so joins lower to Spark's stream-static join.
  private var pendingStreamScan = streamFirstScan

  /** Compiled-and-persisted query lets (`let x = materialize(…);`) — one
    * entry per materialized let, created on first reference. Returning the
    * SAME DataFrame for every reference makes Spark's cache manager serve
    * all of them from one InMemoryRelation: the subquery computes once per
    * query instead of once per reference. MEMORY_AND_DISK (Kusto caps
    * materialize size; here memory pressure spills/evicts instead of
    * failing). Lazy — nothing runs at compile/explain time; the first
    * action populates the cache. [[releaseMaterialized]] frees the blocks
    * once the query's results are fully consumed. */
  private val materializedCache =
    scala.collection.mutable.Map.empty[String, DataFrame]

  /** toscalar() results, memoized per subquery within this compilation —
    * one bounded single-value fetch each (Kusto evaluates toscalar
    * eagerly, so the job running at compile/explain time is the
    * documented semantics, not an accident). */
  private val toScalarVals =
    scala.collection.mutable.Map.empty[Query, Any]

  private def toScalarValue(q: Query): Any =
    toScalarVals.getOrElseUpdate(q,
      compile(q).limit(1).collect().headOption.map(_.get(0)).orNull)

  /** Unpersist every materialized let of this compilation (blocking=false).
    * Call after the query's action completes; results already computed are
    * unaffected. */
  def releaseMaterialized(): Unit =
    materializedCache.values.foreach(_.unpersist(false))

  private def resolveScan(source: String): DataFrame = {
    val wantStream = pendingStreamScan
    pendingStreamScan = false
    if (!wantStream && asBound.contains(source)) return asBound(source)
    lets.get(source).map { q =>
      pendingStreamScan = wantStream
      // a materialized let persists on first reference; streaming scans
      // bypass the cache (persist is a batch-only concept)
      if (materializedLets.contains(source) && !wantStream)
        materializedCache.getOrElseUpdate(source, compile(q)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else compile(q)
    }
      .orElse(catalog.resolveView(source).map { q =>
        pendingStreamScan = wantStream; compile(q)
      })
      .orElse(if (wantStream) catalog.resolveStream(source) else None)
      .orElse(catalog.resolveTable(source))
      .getOrElse(throw new UnknownSourceException(source))
  }

  /** KQL type name for a Spark type — the `ColumnType` column of
    * `getschema` (KQL's scalar-name vocabulary). */
  private def kqlTypeName(t: DataType): String = t match {
    case LongType | IntegerType | ShortType | ByteType => "long"
    case DoubleType | FloatType | _: DecimalType => "real"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "datetime"
    case DayTimeIntervalType.DEFAULT => "timespan"
    case _ => "dynamic" // arrays, maps, structs, variant
  }

  /** Sort keys of the current SERIALIZED prefix (KQL: a sort/top step
    * serializes the row set; where/extend/project/take preserve it; every
    * other step destroys it). Window scalars (`row_number`/`prev`/`next`/
    * `row_cumsum`) order over these keys. */
  private var serialOrder: Option[Seq[SortKey]] = None

  /** Set while compiling a `partition by` sub-pipeline: every
    * order-sensitive step keys its window/aggregate by this field instead
    * of requiring (or producing) a single global order, so the whole
    * sub-pipeline distributes over one hash shuffle on the key. */
  private var partitionKey: Option[FieldPath] = None

  private def compileStep(df: DataFrame, step: QueryStep): DataFrame = {
    // the hidden union-provenance column must never shape results or reach
    // a sink: strip it before whole-row/output steps (distinct would split
    // otherwise-equal rows by origin; write/tee would persist it; a join's
    // output schema must not grow a phantom column). Row-preserving steps
    // (filter/sort/limit/extend/…) let it flow so a later `union
    // withsource=` still sees true per-row origins.
    val in = step match {
      case _: QueryStep.Distinct | _: QueryStep.Write | _: QueryStep.Tee |
           _: QueryStep.Join =>
        if (df != null && df.columns.contains(UnionSrcCol))
          df.drop(UnionSrcCol)
        else df
      case _ => df
    }
    val out = compileStepInner(in, step)
    // a step that drops or REDEFINES a sort-key column breaks the frozen
    // order — clear it so window scalars fail loudly instead of silently
    // ordering by null/new values
    def keyNames: Set[String] =
      serialOrder.toSeq.flatten.map(_.field.simpleName.toLowerCase).toSet
    def invalidates(defined: Seq[String], kept: Option[Seq[String]]): Boolean = {
      val keys = keyNames
      defined.exists(d => keys.contains(d.toLowerCase)) ||
        kept.exists(k => !keys.subsetOf(k.map(_.toLowerCase).toSet))
    }
    step match {
      // expression keys have no stable column to re-read — they cannot
      // anchor the serialized-window order
      case QueryStep.Sort(keys) =>
        serialOrder = if (keys.forall(_.expr.isEmpty)) Some(keys) else None
      case QueryStep.TopN(keys, _) =>
        serialOrder = if (keys.forall(_.expr.isEmpty)) Some(keys) else None
      case QueryStep.Extend(fields) =>
        if (invalidates(fields.map(_._2), None)) serialOrder = None
      case QueryStep.Project(fields) =>
        // a projected key column counts as KEPT only when it passes through
        // unchanged (a bare field ref of itself)
        val passthrough = fields.collect {
          case (Field(p), n) if p.isSimple && p.simpleName.equalsIgnoreCase(n) => n
        }
        val redefined = fields.map(_._2).filterNot(passthrough.contains)
        if (invalidates(redefined, Some(passthrough))) serialOrder = None
      case QueryStep.ProjectKeep(fs) =>
        if (invalidates(Nil, Some(fs.map(_.simpleName)))) serialOrder = None
      case QueryStep.ProjectAway(fs) =>
        if (invalidates(fs.map(_.simpleName), None)) serialOrder = None
      case QueryStep.Rename(pairs) =>
        if (invalidates(pairs.map(_._1) ++ pairs.map(_._2.simpleName), None))
          serialOrder = None
      // Parse keeps row order, but a capture named after a sort-key column
      // REDEFINES that key via withColumns — treat it like an Extend of the
      // capture names so a following window fails loudly rather than
      // ordering by the re-extracted values
      case QueryStep.Parse(_, segs, _, _, _) =>
        if (invalidates(segs.flatMap(_.capture).map(_._1), None))
          serialOrder = None
      case QueryStep.ParseKv(_, keys, _, _, _) =>
        if (invalidates(keys.map(_._1), None)) serialOrder = None
      case _: QueryStep.Filter | _: QueryStep.Limit |
           _: QueryStep.Search | _: QueryStep.Tee |
           _: QueryStep.Reorder | // column shuffle only, rows untouched
           QueryStep.Serialize => ()
      // invoke folds its sub-steps through compileStep, so serialOrder
      // already reflects the spliced pipeline — leave it untouched
      case _: QueryStep.Invoke => ()
      case _: QueryStep.RenderHint => () // no-op, order-preserving
      case _ => serialOrder = None
    }
    out
  }

  /** Pipeline prefixes bound by `as name` — resolved like query lets at
    * later scans within the same compile (join/union subqueries). */
  private val asBound = scala.collection.mutable.Map[String, DataFrame]()

  private def compileStepInner(df: DataFrame, step: QueryStep): DataFrame = step match {
    case QueryStep.Scan(source) => resolveScan(source)

    case QueryStep.AsBind(name) =>
      asBound(name) = df
      df

    // narrow: one (Row, Column, Value) triple per cell, values rendered
    // as strings. Serialized contract like the window scalars — the Row
    // index is a total order, so this is a single-partition window by
    // design (narrow is an interactive small-result explorer; a
    // data-scale transpose is mv-expand territory)
    // make-graph: the pipeline is an edge list; capture the graph context
    // for the graph-match that follows. Identical parallel edges collapse
    // to one (indistinguishable rows — gives the uniqueness constraint a
    // replayable row identity); __geid is the edge's content hash.
    // Without `with`, nodes are the distinct endpoints, property `id`.
    case QueryStep.MakeGraph(src, dst, nodesOpt) =>
      val edges = df.distinct()
      val orig = edges.columns
      val edges2 = edges
        .withColumn("__gsrc", compileField(edges, src))
        .withColumn("__gdst", compileField(edges, dst))
        .withColumn("__geid", xxhash64(orig.map(c => col(s"`$c`")): _*))
      val (nodesDf, idCol) = nodesOpt match {
        case Some((t, idf)) =>
          (compile(Query(Seq(QueryStep.Scan(t)))), idf.flat)
        case None =>
          (edges2.select(col("__gsrc").as("id"))
            .union(edges2.select(col("__gdst").as("id")))
            .distinct(), "id")
      }
      pendingGraph = Some((edges2, nodesDf, idCol))
      // a make-graph not followed by a graph operator yields the edges
      edges

    // graph-match: each hop is ONE shuffle equi-join on node ids; a
    // variable-length edge is a bounded union of fixed-length chains
    // (1..5 hops — never transitive closure, the plan stays static).
    // Pattern variables surface as STRUCT columns (node/edge row) or an
    // ARRAY of edge structs for variable length, so where/project use
    // the ordinary nested-field machinery (a.name, e.weight,
    // array_length(e)). At 100 TB: joins key on node ids (AQE picks
    // broadcast for small node dims), unique-edge checks are per-row
    // array expressions — no extra shuffle.
    case QueryStep.GraphMatch(cycles, gNodes, gEdges, gWhere, gProj) =>
      val (cur, _, _) = buildGraphPattern(cycles, gNodes, gEdges)
      val filtered = gWhere.fold(cur)(w => cur.filter(compileBool(cur, w)))
      compileStepInner(filtered, QueryStep.Project(gProj))

    // graph-shortest-paths: shortest (by hop count) paths per (a, b)
    // endpoint pair among the constraint-satisfying paths. Reuses the
    // bounded var-length union (a shortest walk never repeats a node,
    // so trails up to maxHops contain every shortest path within the
    // bound); selection is ONE window keyed on the endpoint ids —
    // output=all keeps every minimal path, output=any (ADX default)
    // picks one deterministically (min by hops, then edge-id array —
    // run-stable and oracle-replayable).
    case QueryStep.GraphShortestPaths(output, gNodes, gEdge, gWhere, gProj) =>
      val (cur, nodeNames, edgeNames) =
        buildGraphPattern("unique_edges", gNodes, Seq(gEdge))
      val filtered = gWhere.fold(cur)(w => cur.filter(compileBool(cur, w)))
      val ev = edgeNames.head
      val hops = size(col(s"__eids_$ev"))
      val byPair = org.apache.spark.sql.expressions.Window
        .partitionBy(col(s"__id_${nodeNames.head}"),
          col(s"__id_${nodeNames.last}"))
      val shortest =
        if (output == "all")
          filtered.withColumn("__sp_min", min(hops).over(byPair))
            .filter(hops === col("__sp_min")).drop("__sp_min")
        else
          filtered.withColumn("__sp_rn", row_number().over(
              byPair.orderBy(hops, col(s"__eids_$ev"))))
            .filter(col("__sp_rn") === 1).drop("__sp_rn")
      compileStepInner(shortest, QueryStep.Project(gProj))

    // graph-to-table: export the graph context back to tabular form —
    // the node or edge frame as-is (internal __g columns hidden), with
    // the id/endpoint columns optionally surfaced under given names
    case QueryStep.GraphToTable(what, nodeId, srcId, dstId) =>
      val (edf, ndf, idCol) = pendingGraph.getOrElse(throw KqlParseException(
        "graph-to-table requires a preceding graph operator", 0))
      pendingGraph = None
      if (what == "nodes")
        nodeId.fold(ndf)(nm => ndf.withColumn(nm, col(s"`$idCol`")))
      else {
        val orig = edf.columns.filterNot(_.startsWith("__g"))
          .map(c => col(s"`$c`")).toSeq
        val extra = srcId.map(nm => col("__gsrc").as(nm)).toSeq ++
          dstId.map(nm => col("__gdst").as(nm)).toSeq
        edf.select(orig ++ extra: _*)
      }

    // graph-mark-components (weak): the existing hash-to-min label
    // propagation (Graph.connectedComponents — per round one edge⋈label
    // shuffle + partial-aggregated min, Observation-probed fixpoint, no
    // driver data) over the graph context's node ids. The component id
    // is the component's MIN node id — deterministic where ADX's
    // representative is arbitrary (deviation noted in the Ast). The
    // graph context stays set so graph-to-table / graph-match can follow.
    case QueryStep.GraphMarkComponents(compCol, strong) =>
      val (edf, ndf, idCol) = pendingGraph.getOrElse(throw KqlParseException(
        "graph-mark-components requires a preceding make-graph", 0))
      val vs = ndf.select(col(s"`$idCol`").as("id")).distinct()
      val es = edf.select(col("__gsrc").as("src"), col("__gdst").as("dst"))
      val comps =
        if (strong) graft.functions.Graph.stronglyConnectedComponents(vs, es)
        else graft.functions.Graph.connectedComponents(vs, es)
      val out = ndf.join(
        comps.select(col("id").as("__cc_id"), col("cluster_id").as(compCol)),
        col(s"`$idCol`") === col("__cc_id"), "left_outer")
        .drop("__cc_id")
      pendingGraph = Some((edf, out, idCol))
      out

    // CIDR containment join: the lookup is a broadcast dim (small by
    // nature — network tables), the containment predicate is a range on
    // the numeric IP (BroadcastNestedLoop over a tiny build side).
    // Longest-prefix selection is MAP-SIDE: the lookup's (lo, hi, pfx)
    // ranges aggregate into ONE broadcast row, each input row computes
    // its best matching prefix with a per-row array filter/max, and
    // `pfx = best` joins as part of the containment condition — no
    // per-row-id window, no post-join shuffle at all (the r7 form
    // re-shuffled the full joined output on monotonically_increasing_id).
    case QueryStep.Ipv4Lookup(table, srcF, netF, returnUnmatched) =>
      val lookup0 = compile(Query(Seq(QueryStep.Scan(table))))
      val collide = lookup0.columns.map(_.toLowerCase).toSet
        .intersect(df.columns.map(_.toLowerCase).toSet)
      if (collide.nonEmpty) throw KqlParseException(
        s"ipv4_lookup: lookup columns collide with the input: " +
          collide.mkString(", "), 0)
      val netC = compileField(lookup0, netF).cast(StringType)
      val ipPart = when(netC.contains("/"), substring_index(netC, "/", 1))
        .otherwise(netC)
      val pfx = when(netC.contains("/"),
        substring_index(netC, "/", -1).try_cast(IntegerType))
        .otherwise(lit(32))
      val base = parseIpv4(ipPart)
      val width = pow(lit(2.0), lit(32) - pfx).cast(LongType)
      val lo = floor(base / width).cast(LongType) * width
      val lookup = lookup0
        .withColumn("__lk_lo", lo)
        .withColumn("__lk_hi", lo + width - 1L)
        .withColumn("__lk_pfx", pfx)
        .filter(col("__lk_lo").isNotNull && col("__lk_pfx").between(0, 32))
      val ranges = lookup.agg(collect_list(
        struct(col("__lk_lo").as("lo"), col("__lk_hi").as("hi"),
          col("__lk_pfx").as("pfx"))).as("__lk_ranges"))
      val left = df
        .withColumn("__lk_src",
          parseIpv4(compileField(df, srcF).cast(StringType)))
        .crossJoin(broadcast(ranges)) // ONE aggregated row
        .withColumn("__lk_best", array_max(transform(
          filter(col("__lk_ranges"), r =>
            col("__lk_src").between(r("lo"), r("hi"))),
          r => r("pfx"))))
        .drop("__lk_ranges")
      left.join(broadcast(lookup),
        col("__lk_src").between(col("__lk_lo"), col("__lk_hi")) &&
          col("__lk_pfx") === col("__lk_best"),
        if (returnUnmatched) "left_outer" else "inner")
        .drop("__lk_src", "__lk_lo", "__lk_hi", "__lk_pfx", "__lk_best")

    // sliding engagement: each activity row contributes to the outer/inner
    // windows ending at each of the next outer/inner bins — one explode
    // (bounded fan-out = outer/inner) + one keyed dcount aggregation, the
    // standard distributed shape for sliding distinct counts. The bin
    // range is clipped to observed activity via a broadcast 1-row max
    // (the make-series bounds idiom).
    case QueryStep.ActivityEngagement(idf, tsf, inner, outer) =>
      val idc = compileField(df, idf)
      val tb = floor(unix_micros(compileField(df, tsf).cast(TimestampType))
        / inner).cast(LongType) * inner
      val ex = df.select(idc.as("__id"), tb.as("__tb"))
        .withColumn("__t", explode(sequence(col("__tb"),
          col("__tb") + lit(outer - inner), lit(inner))))
      val mx = df.agg(max(tb).as("__mx"))
      ex.join(broadcast(mx), col("__t") <= col("__mx"))
        .groupBy(col("__t"))
        .agg(
          count_distinct(when(col("__t") === col("__tb"), col("__id")))
            .as("dcount_activities_inner"),
          count_distinct(col("__id")).as("dcount_activities_outer"))
        .select(timestamp_micros(col("__t")).as(tsf.flat),
          col("dcount_activities_inner"), col("dcount_activities_outer"),
          (col("dcount_activities_inner").cast(DoubleType) /
            col("dcount_activities_outer")).as("activity_ratio"))

    // session_count = the sliding distinct-id count (ADX's definition:
    // a session is active in a bin iff the id appears in the lookback
    // window ending there) — the SlidingWindowCounts lowering, Kusto's
    // output column name
    case QueryStep.SessionCount(idf, tsf, start, end, binUs, look) =>
      compileStepInner(df, QueryStep.SlidingWindowCounts(
        idf, tsf, start, end, look, binUs))
        .withColumnRenamed("Dcount", "count_sessions").drop("Count")

    // same explode-to-contributing-bins shape; bins clipped to [start,end]
    case QueryStep.SlidingWindowCounts(idf, tsf, start, end, look, binUs) =>
      val idc = compileField(df, idf)
      val tb = floor(unix_micros(compileField(df, tsf).cast(TimestampType))
        / binUs).cast(LongType) * binUs
      df.select(idc.as("__id"), tb.as("__tb"))
        .withColumn("__t", explode(sequence(col("__tb"),
          col("__tb") + lit(look - binUs), lit(binUs))))
        .filter(col("__t") >= lit(start) && col("__t") <= lit(end))
        .groupBy(col("__t"))
        .agg(count(lit(1)).as("Count"),
          count_distinct(col("__id")).as("Dcount"))
        .select(timestamp_micros(col("__t")).as(tsf.flat),
          col("Count"), col("Dcount"))

    // cumulative intersection cardinalities over hll sketches: pure
    // column math — inclusion-exclusion over hll_union chains (2^k
    // terms, k ≤ 4); the sketches were already reduced by summarize, so
    // this step is map-side per row
    case QueryStep.DcountIntersect(cols) =>
      val sketches = cols.map(f => compileField(df, f))
      def unionOf(s: Seq[Column]): Column =
        s.reduceLeft((a, b) => call_function("hll_union", a, b))
      val sCols = cols.indices.map { i =>
        val members = sketches.take(i + 1)
        // Σ over non-empty subsets: (−1)^(|S|+1) · est(∪S)
        val terms = (1 until (1 << (i + 1))).map { mask =>
          val subset = members.zipWithIndex.collect {
            case (c, j) if (mask & (1 << j)) != 0 => c
          }
          val sign = if (java.lang.Integer.bitCount(mask) % 2 == 1) 1 else -1
          hll_sketch_estimate(unionOf(subset)).cast(DoubleType) * sign
        }
        greatest(round(terms.reduce(_ + _)).cast(LongType), lit(0L))
          .as(s"s$i")
      }
      val keep = df.columns
        .filterNot(c => cols.exists(_.flat.equalsIgnoreCase(c)))
        .map(c => col(s"`$c`"))
      df.select(keep ++ sCols: _*)

    // per-bin activity metrics: two keyed aggregations (per-bin
    // count/dcount; per-id first bin → per-bin new-id count) joined on
    // the bin, plus ONE tiny ordered window over the bin rows (bounded by
    // the timeline length, not the data) for the cumulative distinct
    case QueryStep.ActivityCountsMetrics(idf, tsf, start, end, step) =>
      val idc = compileField(df, idf)
      val tb = floor(unix_micros(compileField(df, tsf).cast(TimestampType))
        / step).cast(LongType) * step
      val acts = df.select(idc.as("__id"), tb.as("__t"))
        .filter(col("__t") >= lit(start) && col("__t") <= lit(end))
      val perBin = acts.groupBy(col("__t")).agg(
        count(lit(1)).as("count"), count_distinct(col("__id")).as("dcount"))
      val news = acts.groupBy(col("__id")).agg(min(col("__t")).as("__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as("new_dcount"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__t"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      perBin.join(news, Seq("__t"), "left_outer")
        .withColumn("new_dcount", coalesce(col("new_dcount"), lit(0L)))
        .withColumn("aggregated_dcount", sum(col("new_dcount")).over(w))
        .select(timestamp_micros(col("__t")).as(tsf.flat),
          col("count"), col("dcount"), col("new_dcount"),
          col("aggregated_dcount"))

    // rolling percentile: the bounded explode-to-contributing-bins shape
    // (fan-out = window bins) + one keyed agg; exact rank-rule percentile
    // over the collected window (documented; the sketch path at corpus
    // scale is percentile_approx on the same plan)
    case QueryStep.RollingPercentile(vf, pv, idxf, binUs, win, dims) =>
      val vc = compileField(df, vf).cast(DoubleType)
      val tb = floor(unix_micros(compileField(df, idxf).cast(TimestampType))
        / binUs).cast(LongType) * binUs
      val dimCols = dims.map(d => compileField(df, d).as(d.flat))
      val ex = df.select(vc.as("__v") +: tb.as("__tb") +: dimCols: _*)
        .withColumn("__t", explode(sequence(col("__tb"),
          col("__tb") + lit((win - 1).toLong * binUs), lit(binUs))))
      val mx = df.agg(max(tb).as("__mx"))
      val grouped = ex.join(broadcast(mx), col("__t") <= col("__mx"))
        .groupBy(col("__t") +: dims.map(d => col(d.flat)): _*)
        .agg(sort_array(collect_list(col("__v"))).as("__vs"))
      grouped.select(
        timestamp_micros(col("__t")).as(idxf.flat) +:
          dims.map(d => col(d.flat)) :+
          try_element_at(col("__vs"),
            greatest(lit(1), ceil(size(col("__vs")) * lit(pv / 100.0))
              .cast(IntegerType)))
            .as(s"rolling_percentile_${vf.flat}"): _*)

    // cohort retention matrix: first-seen bin per id (one agg) joins back
    // to the distinct (id, bin) pairs — cohort × activity-bin cells come
    // from one keyed groupBy; cohort sizes join in keyed on the cohort
    case QueryStep.NewActivityMetrics(idf, tsf, start, end, step) =>
      val idc = compileField(df, idf)
      val tb = floor(unix_micros(compileField(df, tsf).cast(TimestampType))
        / step).cast(LongType) * step
      val pairs = df.select(idc.as("__id"), tb.as("__t"))
        .filter(col("__t") >= lit(start) && col("__t") <= lit(end))
        .distinct()
      val firstSeen = pairs.groupBy(col("__id")).agg(min(col("__t")).as("__c"))
      val cohortSize = firstSeen.groupBy(col("__c"))
        .agg(count(lit(1)).as("cohort_size"))
      pairs.join(firstSeen, Seq("__id"))
        .groupBy(col("__c"), col("__t"))
        .agg(count(lit(1)).as("dcount_values"))
        .join(cohortSize, Seq("__c"))
        .select(timestamp_micros(col("__c")).as("from_" + tsf.flat),
          timestamp_micros(col("__t")).as(tsf.flat),
          col("dcount_values"), col("cohort_size"),
          (col("dcount_values").cast(DoubleType) / col("cohort_size"))
            .as("retention_rate"))

    // funnel over a state sequence: the sequence_detect chain finds
    // matches (linear as-of passes), the earliest match per id reduces
    // with one min-struct agg, and prev/next states attach with two more
    // as-of passes (the reversed one via negated micros) — everything
    // keyed on the id, no quadratic joins
    // funnel_sequence_completion: greedy chain (first s1 in window, then
    // first next-state strictly after the previous step — windows gate
    // COUNTING only, per the Ast rule), one keyed join + min-aggregate
    // per step (k ≤ chain length, linear per key at 100 TB), prefix
    // counts unioned per bin of the sequence start
    case QueryStep.FunnelCompletion(idf, tlf, start, end, step, stateF,
        states, windows) =>
      val ev = df.select(compileField(df, idf).as("__k"),
        unix_micros(compileField(df, tlf).try_cast(TimestampType))
          .as("__us"),
        compileField(df, stateF).cast(StringType).as("__st"))
        .filter(col("__us").isNotNull)
      var acc = ev
        .filter(col("__st") === lit(states.head) &&
          col("__us").between(start, end))
        .groupBy(col("__k")).agg(min(col("__us")).as("__t0"))
      val stages = scala.collection.mutable.ArrayBuffer[DataFrame](acc)
      for (j <- 1 until states.length) {
        val stepEv = ev.filter(col("__st") === lit(states(j)))
          .select(col("__k"), col("__us"))
        val prevCols = (0 until j).map(i => col(s"__t$i"))
        acc = acc.join(stepEv, Seq("__k"))
          .filter(col("__us") > col(s"__t${j - 1}"))
          .groupBy(col("__k") +: prevCols: _*)
          .agg(min(col("__us")).as(s"__t$j"))
        stages += acc
      }
      val rows = states.indices.map { j =>
        stages(j)
          .filter(col(s"__t$j") - col("__t0") <= lit(windows(j)))
          .groupBy((floor(col("__t0") / step).cast(LongType) * lit(step))
            .as("__bin"))
          .agg(count(lit(1)).as("dcount"))
          .select(timestamp_micros(col("__bin")).as(tlf.flat),
            lit(states(j)).as(stateF.flat),
            lit(windows(j)).as("period"),
            col("dcount"))
      }
      rows.reduce(_ unionByName _)

    case QueryStep.FunnelSequence(idf, tlf, start, end, maxWin, step,
        stateF, states) =>
      val ev = df.select(compileField(df, idf).as("__k"),
        compileField(df, tlf).try_cast(TimestampType).as("__ts"),
        compileField(df, stateF).cast(StringType).as("__st"))
        .filter(col("__ts").isNotNull)
      val names = states.indices.map(i => s"__s$i")
      def stepDf(i: Int): DataFrame = ev
        .filter(col("__st") === lit(states(i)))
        .select(col("__k"), col("__ts"))
      val matches = sequenceChain(stepDf, names, maxWin,
        maxWin * (states.length - 1))
        .filter(unix_micros(col(names.head)).between(start, end))
      // the earliest match per id defines the funnel instance
      val first = matches.groupBy(col("__k"))
        .agg(min(struct(names.map(col): _*)).as("__m"))
        .select(col("__k") +: names.map(n => col(s"__m.$n").as(n)): _*)
      val counts = first
        .groupBy((floor(unix_micros(col(names.head)) / step)
          .cast(LongType) * step).as("__bin"))
        .agg(count(lit(1)).as("dcount")) // one row per id already
        .select(lit("count").as("kind"),
          timestamp_micros(col("__bin")).as("ts"),
          lit(null).cast(StringType).as("state"), col("dcount"))
      // dedup concurrent events per (id, micros): largest state wins —
      // the deterministic tie rule both engines replay
      val evD = ev.select(col("__k"), unix_micros(col("__ts")).as("__us"),
        col("__st")).groupBy(col("__k"), col("__us"))
        .agg(max(col("__st")).as("__st"))
      def stateCounts(kind: String, anchor: Column, neg: Boolean) = {
        val l0 = first.withColumn("__us",
          if (neg) -(unix_micros(anchor) + 1) else unix_micros(anchor) - 1)
        val r0 = if (neg) evD.withColumn("__us", -col("__us")) else evD
        graft.functions.AsOf.join(l0, r0, "__k", "__us", Seq("__st"),
          prefix = "__fn_")
          .filter(col("__fn___st").isNotNull)
          .groupBy(col("__fn___st")).agg(count(lit(1)).as("dcount"))
          .select(lit(kind).as("kind"),
            lit(null).cast(TimestampType).as("ts"),
            col("__fn___st").as("state"), col("dcount"))
      }
      val prev = stateCounts("prev", col(names.head), neg = false)
      val nxt = stateCounts("next", col(names.last), neg = true)
      counts.unionByName(prev).unionByName(nxt)

    // retention/churn: distinct (id, bin) pairs, one self-join keyed on
    // (id, bin−step) for the retained set, dcounts per bin, and rates as
    // one IEEE division of exact integer counts — lost = prev − retained
    // needs no extra join
    case QueryStep.ActivityMetrics(idf, tsf, start, end, step) =>
      val idc = compileField(df, idf)
      val tb = floor(unix_micros(compileField(df, tsf).cast(TimestampType))
        / step).cast(LongType) * step
      val pairs = df.select(idc.as("__id"), tb.as("__t"))
        .filter(col("__t") >= lit(start) && col("__t") <= lit(end))
        .distinct()
      val perBin = pairs.groupBy(col("__t"))
        .agg(count(lit(1)).as("dcount_values"))
      val news = pairs.groupBy(col("__id")).agg(min(col("__t")).as("__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as("dcount_newvalues"))
      val retained = pairs.alias("cur")
        .join(pairs.select(col("__id"),
          (col("__t") + lit(step)).as("__t")).alias("prv"),
          Seq("__id", "__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as("__retained"))
      val prevCount = perBin.select((col("__t") + lit(step)).as("__t"),
        col("dcount_values").as("__prev_dcount"))
      perBin
        .join(news, Seq("__t"), "left_outer")
        .join(retained, Seq("__t"), "left_outer")
        .join(prevCount, Seq("__t"), "left_outer")
        .select(timestamp_micros(col("__t")).as(tsf.flat),
          col("dcount_values"),
          coalesce(col("dcount_newvalues"), lit(0L)).as("dcount_newvalues"),
          when(col("__prev_dcount").isNull, lit(0.0))
            .otherwise(coalesce(col("__retained"), lit(0L))
              .cast(DoubleType) / col("__prev_dcount"))
            .as("retention_rate"),
          when(col("__prev_dcount").isNull, lit(0.0))
            .otherwise((col("__prev_dcount") -
              coalesce(col("__retained"), lit(0L)))
              .cast(DoubleType) / col("__prev_dcount"))
            .as("churn_rate"))

    // serialized context rows: one global window pass (rows_near is a
    // serialized operator by contract, same single-partition shape as
    // narrow — context windows over a total row order)
    case QueryStep.RowsNear(cond, before, after) =>
      import org.apache.spark.sql.expressions.Window
      val keys = serialOrder.getOrElse(throw KqlParseException(
        "rows_near requires a serialized input — add a 'sort by' first", 0))
      // row i survives iff a condition row exists in [i-after, i+before]
      val w = Window.orderBy(keys.map(k => sortCol(df, k)): _*)
        .rowsBetween(-after, before)
      val flag = compileBool(df, cond).cast("int")
      df.withColumn("__rn_keep", max(flag).over(w))
        .filter(col("__rn_keep") === 1).drop("__rn_keep")

    case QueryStep.Narrow =>
      import org.apache.spark.sql.expressions.Window
      val keys = serialOrder.getOrElse(throw KqlParseException(
        "narrow() requires a serialized input — add a 'sort by' first", 0))
      for (clash <- Seq("Row", "Column", "Value").find(n =>
        df.columns.exists(_.equalsIgnoreCase(n))))
        throw KqlParseException(
          s"narrow() output column '$clash' collides with an input column", 0)
      val w = Window.orderBy(keys.map(k => sortCol(df, k)): _*)
      val cells = array(df.columns.map(c =>
        struct(lit(c).as("c"), col(s"`$c`").cast(StringType).as("v"))): _*)
      df.withColumn("__nrow", row_number().over(w).cast(LongType) - lit(1L))
        .select(col("__nrow").as("Row"), explode(cells).as("__cell"))
        .select(col("Row"), col("__cell.c").as("Column"),
          col("__cell.v").as("Value"))

    // find: union the tables by name (missing columns null-fill — the
    // Kusto rule for heterogeneous schemas), tag `source_`, filter, and
    // keep the referenced (or projected) columns. One narrow pass per
    // table + a bag union: no shuffle beyond what the predicate needs.
    case QueryStep.Find(tables, pred, project) =>
      val referenced = {
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        def walkAny(x: Any): Unit = x match {
          case c: Expr => walk(c)
          case s: Iterable[_] => s.foreach(walkAny)
          case (a, b) => walkAny(a); walkAny(b)
          case _ => ()
        }
        def walk(e: Expr): Unit = e match {
          case Field(fp) => seen += fp.parts.head.name
          case LetRef(fp, b) =>
            if (fp.isSimple) walk(b) else seen += fp.parts.head.name
          case p: Product => p.productIterator.foreach(walkAny)
          case _ => ()
        }
        walk(pred)
        project.foreach { case (e, _) => walk(e) }
        seen.toSeq
      }
      val parts = tables.map { t =>
        val src = resolveScan(t)
        val present = referenced.filter(c =>
          src.columns.exists(_.equalsIgnoreCase(c)))
        src.select(lit(t).as("source_") +: present.map(c => col(s"`$c`")): _*)
      }
      val known = parts.flatMap(_.columns).distinct
      for (c <- referenced if !known.exists(_.equalsIgnoreCase(c)))
        throw KqlParseException(
          s"find: column '$c' exists in none of (${tables.mkString(", ")})", 0)
      val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
      val filtered = unioned.filter(compileBool(unioned, pred))
      if (project.isEmpty) filtered
      else filtered.select(col("source_") +:
        project.map { case (e, n) => compile(filtered, e).as(n) }: _*)

    case QueryStep.RawScan(sql) => catalog.rawQuery(sql)

    // inline literal table: bounded by the query text itself, so building
    // the rows on the driver is the right call (same as any VALUES list)
    case QueryStep.DataTable(cols, values) =>
      def sparkType(t: String): DataType = t match {
        case "long" | "int" | "timespan" => LongType
        case "real" | "double" => DoubleType
        case "string" => StringType
        case "bool" | "boolean" => BooleanType
        case "datetime" => TimestampType
      }
      // validated against the DECLARED column type: a mismatch is a parse
      // error here, not a runtime crash in the executor's row converter
      def toValue(e: Expr, t: String): Any = (e, t) match {
        case (NullLit, _) => null
        case (Neg(inner @ (IntLit(_) | FloatLit(_))), _) =>
          toValue(inner, t) match {
            case l: java.lang.Long => java.lang.Long.valueOf(-l)
            case d: java.lang.Double => java.lang.Double.valueOf(-d)
            case other => other
          }
        case (IntLit(v), "real" | "double") => java.lang.Double.valueOf(v.toDouble)
        case (IntLit(v), "long" | "int") => java.lang.Long.valueOf(v)
        case (FloatLit(v), "real" | "double") => java.lang.Double.valueOf(v)
        case (StrLit(v), "string") => v
        case (BoolLit(v), "bool" | "boolean") => java.lang.Boolean.valueOf(v)
        case (DatetimeLit(m), "datetime") =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L))
        case (TimespanLit(m), "timespan") => java.lang.Long.valueOf(m)
        case _ => throw KqlParseException(
          s"datatable value ${Render.expr(e)} does not fit column type '$t'", 0)
      }
      val schema = StructType(cols.map { case (n, t) =>
        StructField(n, sparkType(t), nullable = true) })
      val rows = values.grouped(cols.length).map { grp =>
        org.apache.spark.sql.Row(
          grp.zip(cols).map { case (e, (_, t)) => toValue(e, t) }: _*)
      }.toSeq
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

    // single-row scalar source; expressions compile against the 1-row
    // frame (no columns to reference — a column ref fails analysis, which
    // is the right error for `print`)
    case QueryStep.Print(cols) =>
      val one = spark.range(1).toDF()
      val named = cols.zipWithIndex.map { case ((alias, e), i) =>
        compile(one, e).as(alias.getOrElse(s"print_$i"))
      }
      one.select(named: _*)

    // generated source: spark.range is a parallel, partitioned generator
    // (no driver materialization), so a billion-row grid is still a narrow
    // distributed scan. Inclusive upper bound, KQL-style.
    // ad-hoc file source with a declared schema; any configured source
    // parallelism (file splits) applies — this is spark.read under a
    // KQL spelling. `dynamic` columns read as string then parse to
    // variant so field paths compose
    case QueryStep.ExternalData(cols, uris, options) =>
      def sparkType(t: String): DataType = t match {
        case "long" | "int" | "timespan" => LongType
        case "real" | "double" => DoubleType
        case "string" | "dynamic" => StringType
        case "bool" | "boolean" => BooleanType
        case "datetime" => TimestampType
      }
      val schema = StructType(cols.map { case (n, t) =>
        StructField(n, sparkType(t), nullable = true) })
      val fmt = options.getOrElse("format",
        uris.headOption.map(_.toLowerCase) match {
          case Some(u) if u.endsWith(".parquet") => "parquet"
          case Some(u) if u.endsWith(".json") || u.endsWith(".jsonl") => "json"
          case Some(u) if u.endsWith(".txt") => "txt"
          case _ => "csv"
        }).toLowerCase
      val paths = uris.map(_.stripPrefix("file://"))
      val raw = fmt match {
        case "csv" =>
          spark.read.schema(schema)
            .option("header",
              options.get("ignorefirstrecord").exists(_.toBoolean))
            .csv(paths: _*)
        case "json" | "multijson" =>
          spark.read.schema(schema).json(paths: _*)
        case "parquet" =>
          // parquet carries its own schema; project + cast to the
          // declared one so the contract matches the other formats
          val df0 = spark.read.parquet(paths: _*)
          df0.select(cols.map { case (n, t) =>
            col(n).cast(sparkType(t)).as(n) }: _*)
        case "txt" | "raw" =>
          val one = spark.read.text(paths: _*)
          one.select(col("value").cast(StringType).as(cols.head._1))
        case other => throw KqlParseException(
          s"externaldata format '$other' is not supported " +
            "(csv, json, parquet, txt)", 0)
      }
      // re-type dynamic columns to variant
      cols.foldLeft(raw) { case (acc, (n, t)) =>
        if (t == "dynamic") acc.withColumn(n, try_parse_json(col(n))) else acc
      }

    case QueryStep.RangeScan(name, lo, hi, step) =>
      def const(e: Expr, what: String): Long = e match {
        case IntLit(v) => v
        case DatetimeLit(v) => v
        case TimespanLit(v) => v
        case Neg(IntLit(v)) => -v
        case _ => throw KqlParseException(
          s"range $what must be an int, datetime, or timespan literal", 0)
      }
      val loV = const(lo, "start")
      val hiV = const(hi, "stop")
      val stV = const(step, "step")
      if (stV <= 0) throw KqlParseException("range step must be positive", 0)
      // bound types must be coherent: a stray int beside a datetime would
      // silently build a grid over raw epoch microseconds (~10^15 rows)
      val isTime = lo.isInstanceOf[DatetimeLit]
      if (hi.isInstanceOf[DatetimeLit] != isTime) throw KqlParseException(
        "range start and stop must both be ints or both datetimes", 0)
      if (isTime && !step.isInstanceOf[TimespanLit]) throw KqlParseException(
        "a datetime range needs a timespan step (e.g. 1h)", 0)
      if (!isTime && step.isInstanceOf[TimespanLit]) throw KqlParseException(
        "a numeric range needs an int step", 0)
      val ids = spark.range(loV, hiV + 1, stV)
      if (isTime) ids.select(timestamp_micros(col("id")).as(name))
      else ids.select(col("id").as(name))

    case QueryStep.Filter(e) => df.filter(compileBool(df, e))

    // parse: pattern-split extraction — one regex built from the literal
    // segments (quoted) and captures ((.*?) non-greedy, the POSITIONALLY
    // last capture greedy), with (?s) so values containing newlines still
    // match. A row that misses the pattern keeps null captures (row-error
    // policy) — tested with an explicit rlike, NOT nullif-on-empty, so a
    // matching row whose capture is legitimately empty keeps "". All
    // capture columns materialize in ONE withColumns against the original
    // frame: a capture named after the source column must not replace the
    // source out from under the later captures.
    case QueryStep.Parse(srcPath, segs, strict, kind, flags) =>
      val src = compileField(df, srcPath).cast(StringType)
      val captures = segs.collect { case ParseSeg(_, Some(c)) => c }
      var seen = 0
      val nCaps = captures.length
      // regex kind keeps literal segments as raw regex fragments and
      // prepends the inline flag group; capture groups stay (.*?)/(.*)
      val flagPrefix =
        if (kind == "regex" && flags.nonEmpty) s"(?$flags)" else ""
      val regex = "(?s)" + flagPrefix + segs.map {
        case ParseSeg(Some(litSeg), _) =>
          if (kind == "regex") litSeg
          else java.util.regex.Pattern.quote(litSeg)
        case ParseSeg(_, Some(_)) =>
          seen += 1
          if (seen == nCaps) "(.*)" else "(.*?)"
        case _ => ""
      }.mkString
      val matches = src.rlike(regex)
      val newCols = captures.zipWithIndex.map { case ((name, kind), i) =>
        val raw = when(matches, regexp_extract(src, regex, i + 1))
        val typed = kind match {
          case "long" | "int" => raw.try_cast(LongType)
          case "real" | "double" => raw.try_cast(DoubleType)
          case _ => raw
        }
        name -> typed
      }.toMap
      // parse-where drops non-matching rows (the filter sits on the same
      // rlike the captures branch on, so one regex eval feeds both)
      if (strict) df.filter(matches).withColumns(newCols)
      else df.withColumns(newCols)

    // free-text search: substring disjunction over every string column
    // (variant columns participate through their JSON text). Stays a
    // plain filter — narrow, pushdown-friendly for the string columns.
    case QueryStep.Search(term, cs) =>
      // backtick-quote: projected columns can carry dots in their NAME
      // (default naming of nested-path projections), which bare col()
      // would misread as struct access
      def exact(n: String) = col(s"`$n`")
      val searchable = df.schema.fields.collect {
        case f if f.dataType == StringType => exact(f.name)
        case f if f.dataType.isInstanceOf[VariantType] =>
          exact(f.name).cast(StringType)
      }
      if (searchable.isEmpty) df.filter(lit(false))
      else {
        val preds = searchable.map { c =>
          if (cs) c.contains(lit(term))
          else lower(c).contains(lit(term.toLowerCase(java.util.Locale.ROOT)))
        }
        df.filter(preds.reduce(_ || _))
      }

    case QueryStep.Project(fields) =>
      df.select(fields.map { case (e, n) => compile(df, e).as(n) }: _*)

    case QueryStep.Extend(fields) =>
      df.withColumns(fields.map { case (e, n) => n -> compile(df, e) }.toMap)

    case QueryStep.Rename(pairs) =>
      pairs.foldLeft(df) { case (acc, (to, from)) => compileRename(acc, to, from) }

    case QueryStep.ProjectAway(fields) =>
      // complement-of-project: drop what's listed (missing names are
      // no-ops, matching drop()'s tolerance and the missing≡null model)
      df.drop(fields.map(_.render): _*)

    case QueryStep.ProjectKeep(fields) =>
      // KQL orders the kept columns by the table's schema, not the list
      val keep = fields.map(_.render.toLowerCase).toSet
      df.select(df.columns.filter(c => keep.contains(c.toLowerCase)).map(col): _*)

    case QueryStep.Expand(fields, kind, itemIndex, casts, limitOpt) =>
      // `limit N` rides the item index (forced internal when the user
      // didn't ask for one): keep element index < N plus the null-index
      // pass-through rows — a map-side filter, the fan-out cap a 100 TB
      // expand wants anyway
      val needIdx = itemIndex.orElse(limitOpt.map(_ => "__mvlimit_idx"))
      val expanded = compileExpand(df, fields, kind, needIdx)
      val out = limitOpt match {
        case Some(n) =>
          val idx = needIdx.get
          val lim = expanded.filter(
            col(s"`$idx`").isNull || col(s"`$idx`") < lit(n))
          if (itemIndex.isEmpty) lim.drop(idx) else lim
        case None => expanded
      }
      // `to typeof(T)`: cast the EXPANDED element column (simple paths
      // only — parser-enforced); try_cast keeps the row-error policy
      fields.zipAll(casts, null, None).foldLeft(out) {
        // typeof(dynamic) is a no-op: the expanded element already IS a
        // variant — casting it to its JSON string would break subsequent
        // field paths on the element
        case (acc, (_, Some("dynamic"))) => acc
        case (acc, (f, Some(t))) =>
          val sparkT = t match {
            case "long" | "int" => LongType
            case "real" | "double" => DoubleType
            case "bool" | "boolean" => BooleanType
            case "datetime" => TimestampType
            case _ => StringType
          }
          acc.withColumn(f.flat, col(s"`${f.flat}`").try_cast(sparkT))
        case (acc, _) => acc
      }

    // mv-apply: per-row subquery over array elements. Shape: explode
    // (narrow) → inner steps on the exploded frame → either one row per
    // surviving element, or (with summarize) a groupBy on a synthetic row
    // id — uniform keys, one shuffle; original columns ride along via
    // first() (constant within a row's group, so deterministic). The row
    // id is evaluated on a single plan branch (no self-join), which keeps
    // monotonically_increasing_id safe here.
    case QueryStep.MvApply(name, src, sub, castKind, extraSpecs) =>
      val rid = "__mvapply_rid"
      val specs = (name, src, castKind) +: extraSpecs
      val specNames = specs.map(_._1)
      // bare form (`mv-apply arr on …`) replaces the array column with the
      // element, so it must not also be carried as an "original"
      val origCols = df.columns.toSeq
        .filterNot(c => specNames.exists(_.equalsIgnoreCase(c)))
      def mvArrOf(frame: DataFrame, f: FieldPath): Column =
        dataTypeAt(df, f) match {
          // schemaless: variant arrays explode per element (a per-row
          // non-array variant casts to null → the row emits nothing, like
          // a null array)
          case _: VariantType =>
            compileField(frame, f).try_cast(ArrayType(VariantType))
          case _ => compileField(frame, f)
        }
      def mvCast(c: Column, k: Option[String]): Column =
        k.filter(_ != "dynamic").fold(c) { t => // typeof(dynamic): no-op
          val sparkT = t match {
            case "long" | "int" => LongType
            case "real" | "double" => DoubleType
            case "bool" | "boolean" => BooleanType
            case "datetime" => TimestampType
            case _ => StringType
          }
          c.try_cast(sparkT)
        }
      var cur =
        if (extraSpecs.isEmpty) {
          val c0 = df
            .withColumn(rid, monotonically_increasing_id())
            .withColumn(name, explode(mvArrOf(df, src)))
          if (castKind.exists(_ != "dynamic"))
            c0.withColumn(name, mvCast(col(s"`$name`"), castKind))
          else c0
        } else {
          // multi-column zip (ADX mv-apply a = x, b = y on …): positions
          // 0..max(sizes)−1, shorter arrays pad null (the mv-expand
          // multi-field rule); all-null/empty rows emit nothing. Element
          // expressions evaluate against the PRE-overwrite frame, so a
          // spec may reuse another spec's name without self-reference.
          val sizes = specs.map(s => coalesce(size(mvArrOf(df, s._2)), lit(0)))
          val maxN = sizes.reduce((a, b) => greatest(a, b))
          val exploded = df
            .withColumn(rid, monotonically_increasing_id())
            .withColumn("__mvidx",
              explode(when(maxN >= 1, sequence(lit(0), maxN - 1))))
          exploded.select(
            (exploded.columns.toSeq
              .filterNot(c => c == "__mvidx" ||
                specNames.exists(_.equalsIgnoreCase(c)))
              .map(c => col(s"`$c`")) ++
              specs.map { case (nm, sf, ck) =>
                mvCast(try_element_at(mvArrOf(exploded, sf),
                  col("__mvidx") + 1), ck).as(nm)
              }): _*)
        }
      var aggNames = Seq.empty[String]
      var extended = Seq.empty[String]
      var i = 0
      while (i < sub.length) {
        sub(i) match {
          case QueryStep.Filter(e) =>
            cur = cur.filter(compileBool(cur, e))
          case QueryStep.Extend(fields) =>
            cur = compileStepInner(cur, QueryStep.Extend(fields))
            extended = extended ++ fields.map(_._2)
          case QueryStep.Summarize(aggs, by) =>
            if (by.nonEmpty) throw KqlParseException(
              "mv-apply summarize cannot take 'by' — the group is the row", 0)
            if (aggNames.nonEmpty) throw KqlParseException(
              "mv-apply supports one summarize", 0)
            val aggCols = aggs.map(a => aggColumn(cur, a.agg).as(a.name))
            val carried = origCols.map(c => first(col(s"`$c`")).as(c))
            val all = aggCols ++ carried
            cur = cur.groupBy(col(rid)).agg(all.head, all.tail: _*)
            aggNames = aggs.map(_.name)
          // per-row top-k: `sort by … | take N` inside the subquery
          case QueryStep.Sort(keys)
              if i + 1 < sub.length && sub(i + 1).isInstanceOf[QueryStep.Limit] =>
            val n = sub(i + 1).asInstanceOf[QueryStep.Limit].n
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(col(rid))
              .orderBy(keys.map(k => sortCol(cur, k)): _*)
            cur = cur.withColumn("__mvrk", row_number().over(w))
              .filter(col("__mvrk") <= lit(n)).drop("__mvrk")
            i += 1 // the take is consumed with the sort
          case other => throw KqlParseException(
            "mv-apply supports where / extend / summarize / sort by … | take N" +
              s", not ${other.getClass.getSimpleName}", 0)
        }
        i += 1
      }
      val outCols =
        if (aggNames.nonEmpty) origCols ++ aggNames
        else origCols ++ specNames ++ extended
      cur.select(outCols.map(c => col(s"`$c`")): _*)

    case QueryStep.Limit(n) => partitionKey match {
      case Some(pk) =>
        // per-key take: deterministic only over an ordered prefix, so the
        // serialize contract is enforced the same way the window scalars
        // enforce it (Kusto's unordered take is arbitrary — reject it)
        val keys = serialOrder.getOrElse(throw KqlParseException(
          "take inside 'partition by' requires a preceding 'sort by' — " +
            "the per-key row choice must be deterministic", 0))
        perKeyHead(df, pk, keys, n)
      case None => df.limit(n.toInt)
    }

    case QueryStep.Sort(keys) => partitionKey match {
      // per-key order: co-locate each key's rows and sort within the
      // shuffle partition. The window/take steps that follow need exactly
      // this distribution (hash by key, sort by key+order), so Catalyst
      // reuses the exchange instead of adding a global range sort.
      case Some(pk) =>
        val pcol = compileField(df, pk)
        df.repartition(pcol)
          .sortWithinPartitions(pcol +: keys.map(k => sortCol(df, k)): _*)
      case None => df.orderBy(keys.map(k => sortCol(df, k)): _*)
    }

    case QueryStep.TopN(keys, n) => partitionKey match {
      case Some(pk) => perKeyHead(df, pk, keys, n)
      case None => df.orderBy(keys.map(k => sortCol(df, k)): _*).limit(n.toInt)
    }

    // exact top-hitters: map-side partial agg → shuffle on the value →
    // final agg → TakeOrderedAndProject (bounded heaps, O(n) driver
    // memory). Kusto's is CMS-approximate; exactness here is strictly
    // stronger and the output keeps Kusto's `approximate_*` column names.
    // At cardinalities where even the agg's shuffle is too wide, the
    // documented sketch path is summarize dcount_approx/percentile-style
    // pre-filtering — not silently swapped in here.
    case QueryStep.TopHitters(n, of, by) =>
      val keyName = of.flat
      val key = compileField(df, of)
      val (aggC, aggName) = by match {
        case Some(b) =>
          (sum(compileField(df, b).cast(DoubleType)),
            s"approximate_sum_${b.flat}")
        case None => (count(lit(1)), s"approximate_count_$keyName")
      }
      df.groupBy(key.as(keyName)).agg(aggC.as(aggName))
        .orderBy(col(s"`$aggName`").desc, col(s"`$keyName`").asc)
        .limit(n.toInt)

    // reproducible distinct sample: the N smallest xxhash64 values of the
    // distinct set — hash-uniform (fair), engine/partitioning-invariant,
    // and one partial-aggregated distinct + TakeOrderedAndProject in the
    // plan. Deviation from Kusto (whose pick is arbitrary) documented on
    // the AST node.
    case QueryStep.SampleDistinct(n, of) =>
      val keyName = of.flat
      df.select(compileField(df, of).as(keyName)).distinct()
        .orderBy(xxhash64(col(s"`$keyName`")).asc, col(s"`$keyName`").asc)
        .limit(n.toInt)

    // reproducible row sample: the N rows with the smallest full-row
    // xxhash64 (Ast note — Kusto's pick is arbitrary; ours is hash-
    // uniform and partitioning-invariant). One TakeOrderedAndProject,
    // never a global sort.
    case QueryStep.Sample(n) =>
      df.orderBy(
        xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).asc)
        .limit(n.toInt)

    case QueryStep.Reorder(specs) =>
      val cols = df.columns.toSeq
      val used = scala.collection.mutable.LinkedHashSet[String]()
      specs.foreach { case (pat, order) =>
        if (!pat.contains("*")) {
          val m = cols.find(_.equalsIgnoreCase(pat)).getOrElse(
            throw KqlParseException(
              s"project-reorder: column '$pat' not found", 0))
          used += m
        } else {
          val rx = ("(?i)^" + pat.split("\\*", -1)
            .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
          val m = cols.filter(c => rx.matches(c))
          val ordered = order match {
            case Some(true)  => m.sortBy(_.toLowerCase)
            case Some(false) => m.sortBy(_.toLowerCase)(Ordering.String.reverse)
            case None        => m
          }
          ordered.foreach(used += _)
        }
      }
      val rest = cols.filterNot(used.contains)
      df.select((used.toSeq ++ rest).map(c => col(s"`$c`")): _*)

    case QueryStep.ParseKv(src, keys, pairD, kvD, quote) =>
      val s0 = compile(df, src).cast(StringType)
      // entries split on the pair delimiter; each is trimmed so
      // "k1=a; k2=b" styles work with a plain '; ' or ';' delimiter
      val entries = split(
        s0, java.util.regex.Pattern.quote(pairD), -1)
      def valueOf(key: String, typ: String): Column = {
        val prefix = key + kvD
        // first occurrence wins (Kusto's rule)
        val hit = try_element_at(
          filter(entries, e => trim(e).startsWith(lit(prefix))), lit(1))
        val raw = trim(hit).substr(
          lit(prefix.length + 1), length(trim(hit)) - lit(prefix.length))
        val unquoted = quote match {
          case Some(q) =>
            val ql = q.length
            when(raw.startsWith(q) && raw.endsWith(q) &&
              length(raw) >= lit(2 * ql),
              raw.substr(lit(ql + 1), length(raw) - lit(2 * ql)))
              .otherwise(raw)
          case None => raw
        }
        typ match {
          case "string" => unquoted
          case "long" | "int" => unquoted.try_cast(LongType)
          case "real" | "double" => unquoted.try_cast(DoubleType)
          case "datetime" => unquoted.try_cast(TimestampType)
          case "bool" | "boolean" => unquoted.try_cast(BooleanType)
        }
      }
      df.withColumns(
        keys.map { case (k, t) => k -> valueOf(k, t) }.toMap)

    // fork: branches compile against the shared parent, stack by name
    // with fork_table provenance (Ast note). Each branch restores the
    // parent's serialized-order state so a window inside one branch
    // doesn't leak into the next.
    case QueryStep.Fork(branches) =>
      val savedOrder = serialOrder
      val outs = branches.map { case (nm, steps) =>
        serialOrder = savedOrder
        steps.foldLeft(df)(compileStep).withColumn("fork_table", lit(nm))
      }
      serialOrder = None
      outs.reduce(_.unionByName(_, allowMissingColumns = true))

    // facet: one hash agg per column, stacked with provenance (Ast note —
    // Kusto's N result tables re-expressed in the single-table contract).
    // Each branch prunes to its one column before the shuffle, so N
    // facets cost N narrow column scans, not N full-row passes.
    case QueryStep.Facet(cols) =>
      cols.map { f =>
        df.groupBy(compileField(df, f).cast(StringType).as("value"))
          .agg(count(lit(1)).as("count_"))
          .select(lit(f.render).as("facet_column"),
            col("value"), col("count_"))
      }.reduce(_ unionAll _)

    // reduce by: deterministic pattern clustering — every maximal digit
    // run collapses to '*', then one hash aggregation (Kusto's output
    // shape: Pattern, Count, Representative; its heuristic is
    // unspecified, ours is documented and engine-replayable)
    case QueryStep.ReduceBy(e) =>
      val v = compile(df, e).cast(StringType)
      df.select(
        regexp_replace(v, lit("[0-9]+"), lit("*")).as("Pattern"),
        v.as("__reduce_v"))
        .groupBy(col("Pattern"))
        .agg(count(lit(1)).as("Count"),
          min(col("`__reduce_v`")).as("Representative"))

    // bag_unpack: ONE scalar-aggregate pass merges every row's object
    // schema (schema_of_variant_agg — only the schema string reaches the
    // driver), then each key lowers to a typed variant_get projection.
    // Container-typed keys stay variant so nested bags survive re-unpack.
    case QueryStep.BagUnpack(path, prefix) =>
      if (!path.isSimple)
        throw KqlParseException(
          s"bag_unpack expects a top-level dynamic column, got '${path.render}'", 0)
      val v = compileField(df, path)
      val ddl = df.agg(schema_of_variant_agg(v).as("s")).head().getString(0)
      val keep = df.columns
        .filterNot(_.equalsIgnoreCase(path.simpleName))
        .map(c => col(s"`$c`"))
      if (ddl == null || ddl == "VOID") df.select(keep.toSeq: _*)
      else if (!ddl.startsWith("OBJECT<"))
        throw KqlParseException(
          s"bag_unpack: '${path.render}' holds non-object values " +
            s"(merged schema: $ddl)", 0)
      else {
        val pre = prefix.getOrElse("")
        val unpacked = splitTopLevel(ddl.stripPrefix("OBJECT<").stripSuffix(">"))
          .map { kv =>
            val i = kv.indexOf(':')
            val (k, t) = (kv.take(i).trim, kv.drop(i + 1).trim)
            val target =
              if (t.startsWith("OBJECT") || t.startsWith("ARRAY") ||
                t == "VARIANT") "variant"
              else t
            variant_get(v, s"$$['$k']", target).as(pre + k)
          }
        df.select((keep ++ unpacked).toSeq: _*)
      }

    // hierarchical top-k: per level, aggregate (map-side partial → final),
    // keep the top n groups per parent via row_number over the AGGREGATED
    // frame (post-agg cardinality = |distinct keys|, so the level-1 global
    // window is a bounded driver-sized sort, not a data-scale one), then
    // the next level joins back to the survivors — a broadcast-sized join
    // at every depth. Ties break by the smaller key (total rule).
    case QueryStep.TopNested(levels) =>
      import org.apache.spark.sql.expressions.Window
      // `cur` = base rows with each completed level's key MATERIALIZED as
      // a flat column — remapped to the `with others` label where one is
      // declared, so every level (and every DEEPER level nesting inside
      // the others bucket) re-aggregates from raw rows: non-algebraic
      // aggregates like dcount stay exact in the bucket, where combining
      // the excluded groups' results could not be
      var cur = df
      var acc: DataFrame = null
      var parents = Seq.empty[String]
      levels.foreach { lvl =>
        val keyName = lvl.of.flat
        val rawKey = compileField(cur, lvl.of)
        // the label rides in the key column — it widens to string
        cur = cur.withColumn(keyName,
          if (lvl.others.isDefined) rawKey.cast(StringType) else rawKey)
        def groupLevel(): DataFrame = compileSummarize(
          cur, Seq(lvl.agg),
          (parents :+ keyName).map(n2 => ByField(Field(FieldPath.simple(n2)), n2)))
        val grouped = groupLevel()
        // joining the PRIOR acc both scopes this level to surviving parent
        // combinations and carries the earlier levels' aggregate columns
        val scoped =
          if (acc == null) grouped
          else grouped.join(broadcast(acc), parents, "inner")
        val w =
          (if (parents.isEmpty) Window.partitionBy()
           else Window.partitionBy(parents.map(col): _*))
            .orderBy(col(lvl.agg.name).desc, col(keyName).asc)
        val kept = scoped
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= lit(lvl.n))
          .drop("__rk")
        acc = lvl.others match {
          case None => kept
          case Some(label) =>
            // remap excluded keys to the label on the RAW frame, scope to
            // surviving parents, and re-aggregate the whole level: ≤ n+1
            // groups per parent come back, top keys byte-identical, the
            // bucket exact
            val accPrev = acc
            val keptKeys = kept
              .select((parents :+ keyName).map(col): _*)
              .withColumn("__keep", lit(1))
            cur = cur
              .join(broadcast(keptKeys), parents :+ keyName, "left")
              .withColumn(keyName,
                when(col("__keep").isNotNull, col(keyName))
                  .otherwise(lit(label)))
              .drop("__keep")
            if (parents.nonEmpty)
              cur = cur.join(
                broadcast(kept.select(parents.map(col): _*).distinct()),
                parents, "semi")
            val regrouped = groupLevel()
            if (accPrev == null) regrouped
            else regrouped.join(broadcast(accPrev), parents, "inner")
        }
        parents = parents :+ keyName
      }
      // column order: k1, agg1, k2, agg2, …
      val ordered = levels.flatMap(l => Seq(l.of.flat, l.agg.name))
      acc.select(ordered.map(col): _*)

    case QueryStep.Summarize(aggs, by) =>
      val by2 = partitionKey match {
        // inside `partition by` the key is an implicit group key (Kusto
        // runs the summarize per subtable; grouping by the key is the
        // shuffle-once equivalent). Suppress it only when a by-field IS
        // the key expression — a different expression merely named like
        // the key would silently break the per-subtable contract, so that
        // collision errors instead.
        case Some(pk) =>
          if (by.exists(_.expr == Field(pk))) by
          else if (by.exists(_.name.equalsIgnoreCase(pk.flat)))
            throw KqlParseException(
              s"'${pk.flat}' is the partition key — a summarize alias " +
                "inside 'partition by' cannot redefine it", 0)
          else ByField(Field(pk), pk.flat) +: by
        case None => by
      }
      compileSummarize(df, aggs, by2)

    case QueryStep.MakeSeries(aggs, axis, lo, hi, step, by) =>
      compileMakeSeries(df, aggs, axis, lo, hi, step, by)

    // basket: frequent attribute-combination segments. Each row expands
    // to its 2^c − 1 non-empty column subsets (c ≤ 10, enforced) via one
    // generated mask column; ONE hash aggregation counts every candidate
    // segment — map-side partial combine collapses the amplification to
    // the distinct-segment space, so the shuffle carries segments, not
    // row-subsets. N comes from a broadcast 1-row aggregate (no eager
    // count at compile). The whole lowering is a single exchange plus
    // the tiny final ranking sort — the Apriori candidate lattice
    // flattened into one pass, which beats k iterative joins at cluster
    // scale for bounded c.
    case QueryStep.Basket(threshold) =>
      val (grouped, cols) = basketSegments(df, threshold)
      basketOutput(grouped, cols)

    // autocluster = the basket lattice + dominance pruning: a segment is
    // redundant when a STRICTLY more specific frequent segment explains
    // ≥ ratio of its rows — what survives is the small informative set
    // Kusto's plugin aims for (its exact algorithm is unpublished; this
    // rule is documented, deterministic semantics). The prune is a
    // broadcast self-join over the already-small segment set
    case QueryStep.AutoCluster(threshold, ratio) =>
      val (grouped, cols) = basketSegments(df, threshold)
      val sSide = grouped.select(
        col("__mask").as("__sm") +: col("Count").as("__sc") +:
          col("__N") +: cols.map(cn => col(s"`$cn`").as(s"__s_$cn")): _*)
      val tSide = broadcast(grouped.select(
        col("__mask").as("__tm") +: col("Count").as("__tc") +:
          cols.map(cn => col(s"`$cn`").as(s"__t_$cn")): _*))
      // T strictly more specific than S, agreeing on every S attribute
      // (per-mask bits distinguish a genuine null value from a wildcard)
      val agree = cols.zipWithIndex.map { case (cn, i) =>
        val sBit = shiftright(col("__sm"), i).bitwiseAND(lit(1L)) === 1L
        val tBit = shiftright(col("__tm"), i).bitwiseAND(lit(1L)) === 1L
        !sBit || (tBit && col(s"`__s_$cn`") <=> col(s"`__t_$cn`"))
      }.reduce(_ && _)
      val kept0 = sSide.join(tSide,
        col("__tm").bitwiseAND(col("__sm")) === col("__sm") &&
          col("__tm") =!= col("__sm") && agree &&
          col("__tc") >= lit(ratio) * col("__sc"),
        "left_anti")
      val kept = kept0.select(
        col("__sm").as("__mask") +: col("__sc").as("Count") +:
          col("__N") +: cols.map(cn => col(s"`__s_$cn`").as(cn)): _*)
      basketOutput(kept, cols)

    // diffpatterns_text: the same lattice over the text's first 4
    // whitespace tokens as positional attributes; Pattern renders
    // wildcard AND absent positions as '*' (dropping the positional
    // columns after ranking — SegmentId order is decided before the
    // conflation, so it stays deterministic)
    case QueryStep.DiffPatternsText(threshold, textF, split, va, vb) =>
      val k = 4
      val toksDpt = org.apache.spark.sql.functions.split(
        compileField(df, textF).cast(StringType), "\\s+")
      val base = df.select(
        compileField(df, split).as(split.flat) +:
          (1 to k).map(i => try_element_at(toksDpt, lit(i)).as(s"__dpt$i")): _*)
      val dp = compileStepInner(base,
        QueryStep.DiffPatterns(threshold, split, va, vb))
      dp.withColumn("Pattern", concat_ws(" ",
          (1 to k).map(i => coalesce(col(s"__dpt$i"), lit("*"))): _*))
        .drop((1 to k).map(i => s"__dpt$i"): _*)

    // diffpatterns: the basket lattice mined on each side of the split,
    // merged full-outer on segment identity, ranked by |ΔPercent| — two
    // masked-expansion hash aggs + one broadcast-sized merge join
    case QueryStep.DiffPatterns(threshold, split, va, vb) =>
      val splitCol = compileField(df, split)
      val sideA = df.filter(splitCol === compile(df, va))
        .drop(split.flat)
      val sideB = df.filter(splitCol === compile(df, vb))
        .drop(split.flat)
      val (ga, cols) = basketSegments(sideA, threshold)
      val (gb, _) = basketSegments(sideB, threshold)
      val a = ga.select(col("__mask") +: col("Count").as("CountA") +:
        col("__N").as("__NA") +: cols.map(cn => col(s"`$cn`")): _*)
      val b = gb.select(col("__mask").as("__mb") +:
        col("Count").as("CountB") +: col("__N").as("__NB") +:
        cols.map(cn => col(s"`$cn`").as(s"__b_$cn")): _*)
      val cond = (col("__mask") <=> col("__mb")) &&
        cols.map(cn => col(s"`$cn`") <=> col(s"`__b_$cn`")).reduce(_ && _)
      val merged = a.join(b, cond, "full_outer")
        .select(Seq(
          coalesce(col("__mask"), col("__mb")).as("__mask"),
          coalesce(col("CountA"), lit(0L)).as("CountA"),
          coalesce(col("CountB"), lit(0L)).as("CountB")) ++
          cols.map(cn =>
            coalesce(col(s"`$cn`"), col(s"`__b_$cn`")).as(cn)): _*)
      // side totals from broadcast 1-row aggregates (a side may have no
      // surviving segments, so its __N can be absent from the merge)
      val na = broadcast(sideA.agg(count(lit(1)).as("__TA")))
      val nb = broadcast(sideB.agg(count(lit(1)).as("__TB")))
      val scored = merged.crossJoin(na).crossJoin(nb)
        .withColumn("PercentA",
          lit(100.0) * col("CountA") / greatest(col("__TA"), lit(1L)))
        .withColumn("PercentB",
          lit(100.0) * col("CountB") / greatest(col("__TB"), lit(1L)))
        .withColumn("PercentDiffAB", abs(col("PercentA") - col("PercentB")))
      val ord = col("PercentDiffAB").desc +: col("__mask").asc +:
        cols.map(cn => col(s"`$cn`").asc)
      scored
        .withColumn("SegmentId", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(ord: _*))
          .cast(LongType))
        .select(col("SegmentId") +: col("CountA") +: col("CountB") +:
          col("PercentA") +: col("PercentB") +: col("PercentDiffAB") +:
          cols.map(cn => col(s"`$cn`")): _*)

    // sequence_detect: cascaded as-of chain — each step binds to the
    // NEAREST preceding prefix per key (one key-shuffled linear as-of
    // pass per step, never a quadratic candidate join), constraints
    // prune progressively. Prefixes collapse per (key, anchor-ts) before
    // each as-of (its determinism precondition): latest earlier steps
    // win lexicographically. The chain itself is shared with
    // funnel_sequence (sequenceChain).
    case QueryStep.SequenceDetect(tl, win, dur, flags, key) =>
      val names = flags.map(_.flat)
      if (names.distinct.length != names.length) throw KqlParseException(
        "sequence_detect step flags must be distinct columns", 0)
      val keyName = key.flat
      def stepDf(i: Int): DataFrame = df
        .filter(compileBool(df, Field(flags(i))))
        .select(compileField(df, key).as("__k"),
          compileField(df, tl).try_cast(TimestampType).as("__ts"))
        .filter(col("__ts").isNotNull)
      val acc = sequenceChain(stepDf, names, win, dur)
      acc.select(col("__k").as(keyName) +: names.map(col) :+
        (unix_micros(col(names.last)) - unix_micros(col(names.head)))
          .as("duration"): _*)

    // pivot: one aggregated column per listed value, grouped by every
    // OTHER column (KQL pivot plugin). Lowers to RelationalGroupedDataset
    // .pivot with explicit values — a single partial/final aggregation,
    // no distinct-scan for the schema and no per-value scans.
    case QueryStep.Pivot(colPath, agg, values) =>
      val pivotName = colPath.flat
      // every field the aggregate touches (its input AND any predicate
      // refs) leaves the group-by set — otherwise the output granularity
      // silently becomes one row per distinct input value
      val aggSrc: Seq[String] = (agg.agg match {
        case Aggregation.Sum(f) => Seq(f)
        case Aggregation.Avg(f) => Seq(f)
        case Aggregation.Min(f) => Seq(f)
        case Aggregation.Max(f) => Seq(f)
        case Aggregation.DCount(f) => Seq(f)
        case Aggregation.DCountApprox(f) => Seq(f)
        case Aggregation.Percentile(f, _) => Seq(f)
        case Aggregation.MakeList(f) => Seq(f)
        case Aggregation.MakeSet(f) => Seq(f)
        case Aggregation.MakeListIf(f, pred) => f +: fieldRefs(pred)
        case Aggregation.MakeSetIf(f, pred) => f +: fieldRefs(pred)
        case Aggregation.MakeListNulls(f) => Seq(f)
        case Aggregation.Stdev(f) => Seq(f)
        case Aggregation.Variance(f) => Seq(f)
        case Aggregation.StdevP(f) => Seq(f)
        case Aggregation.VarianceP(f) => Seq(f)
        case Aggregation.Covariance(_, a, b) => Seq(a, b)
        case Aggregation.Correlation(a, b) => Seq(a, b)
        case Aggregation.TDigestA(f) => Seq(f)
        case Aggregation.TDigestMerge(f) => Seq(f)
        case Aggregation.TopKApprox(f, _) => Seq(f)
        case Aggregation.TopKAccum(f) => Seq(f)
        case Aggregation.TopKMerge(f) => Seq(f)
        case Aggregation.ArgMax(f, r) => Seq(f, r)
        case Aggregation.ArgMin(f, r) => Seq(f, r)
        case Aggregation.ArgExtremeRows(_, f, rets) => f +: rets
        case Aggregation.MakeBag(f, pred) =>
          f +: pred.toSeq.flatMap(fieldRefs)
        case Aggregation.AggIf(_, f, pred) => f +: fieldRefs(pred)
        case Aggregation.Countif(e) => fieldRefs(e)
        case Aggregation.Count => Nil
        case Aggregation.TakeAny(f) => Seq(f)
        case Aggregation.BinaryAll(_, f) => Seq(f)
        case Aggregation.Hll(f) => Seq(f)
        case Aggregation.HllMerge(f) => Seq(f)
        case Aggregation.Percentiles(f, _) => Seq(f)
        case Aggregation.PercentilesArray(f, _) => Seq(f)
        case Aggregation.PercentileW(f, w, _) => Seq(f, w)
        case Aggregation.BuildSchema(f) => Seq(f)
      }).map(_.flat)
      val groupCols = df.columns.filter(c =>
        !c.equalsIgnoreCase(pivotName) && !aggSrc.exists(_.equalsIgnoreCase(c)))
      val vals =
        if (values.nonEmpty) values.map {
          case StrLit(s) => s: Any
          case IntLit(v) => v: Any
          case FloatLit(v) => v: Any
          case BoolLit(v) => v: Any
          case _ => throw KqlParseException("pivot values must be literals", 0)
        } else {
          // auto-schema form: ONE bounded eager distinct scan at compile
          // (toscalar's documented eagerness) — sorted so the output
          // column order is deterministic; a wide key set must be listed
          // explicitly, the static-schema contract at scale
          val distinctVals = df
            .select(compileField(df, colPath).as("__pv"))
            .filter(col("__pv").isNotNull)
            .distinct().orderBy(col("__pv")).limit(101)
            .collect().map(_.get(0)).toSeq
          if (distinctVals.length > 100) throw KqlParseException(
            "pivot() auto-schema supports at most 100 distinct values — " +
              "list the values explicitly", 0)
          if (distinctVals.isEmpty) throw KqlParseException(
            "pivot() found no values to pivot on", 0)
          distinctVals
        }
      df.groupBy(groupCols.map(c => col(s"`$c`")): _*)
        .pivot(compileField(df, colPath), vals)
        .agg(aggColumn(df, agg.agg))

    case QueryStep.Serialize =>
      if (serialOrder.isEmpty) throw KqlParseException(
        "serialize requires an ordered input here — add a 'sort by' first " +
          "(a distributed engine has no inherent row order to freeze)", 0)
      df

    // schema introspection: compile-time metadata, no data scan. DataType
    // is the engine's type string; ColumnType is the KQL-name mapping.
    case QueryStep.GetSchema =>
      val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
        (f.name, i.toLong, f.dataType.simpleString, kqlTypeName(f.dataType))
      }.toSeq
      import spark.implicits._
      rows.toDF("ColumnName", "ColumnOrdinal", "DataType", "ColumnType")

    case QueryStep.Distinct(fields) =>
      // inside `partition by`, distinct is per key: the key joins the
      // distinct tuple (and stays in the output — row multiplicity then
      // matches Kusto's per-subtable union exactly)
      val fields2 = partitionKey match {
        case Some(pk) if fields.nonEmpty &&
            !fields.exists(_.flat.equalsIgnoreCase(pk.flat)) => pk +: fields
        case _ => fields
      }
      if (fields2.isEmpty) df.distinct()
      else df.select(fields2.map(f => compileField(df, f).as(f.flat)): _*).distinct()

    case QueryStep.Union(sub, ws, fuzzy, inner) =>
      val leftName = pipelineSource
      val rightName = sourceNameOf(sub)
      val right0try = {
        val saved = keepUnionSrc
        keepUnionSrc = true
        try Right(compile(sub))
        catch {
          // isfuzzy: an unresolvable branch SOURCE is tolerated — the
          // left side passes through (Kusto's fuzzy-union contract for
          // partially-available tables). Only resolution errors qualify;
          // a genuinely broken branch query still fails
          case e: UnknownSourceException if fuzzy => Left(e)
        }
        finally keepUnionSrc = saved
      }
      val right0 = right0try match {
        case Left(_) =>
          return ws match {
            case None => df
            case Some(colName) =>
              if (df.columns.contains(UnionSrcCol))
                df.withColumnRenamed(UnionSrcCol, colName)
              else df.withColumn(colName, lit(leftName))
          }
        case Right(r) => r
      }
      // per-row provenance: rows stamped by an EARLIER union in this
      // pipeline (or inside the branch subquery) keep their true origin;
      // unstamped rows all came from the named side. A projection between
      // unions drops the hidden column, degrading those rows' label to
      // the pipeline head — the best recoverable answer there.
      val left =
        if (df.columns.contains(UnionSrcCol)) df
        else df.withColumn(UnionSrcCol, lit(leftName))
      val right =
        if (right0.columns.contains(UnionSrcCol)) right0
        else right0.withColumn(UnionSrcCol, lit(rightName))
      // kind=inner: only columns common to both sides survive (applied
      // pairwise, so the multi-source desugaring accumulates the
      // intersection over all sides); provenance rides along
      val merged =
        if (inner) {
          val common = left.columns.filter(c =>
            right.columns.exists(_.equalsIgnoreCase(c)))
          left.select(common.map(c => col(s"`$c`")): _*)
            .unionByName(right.select(common.map(c => col(s"`$c`")): _*))
        } else left.unionByName(right, allowMissingColumns = true)
      ws match {
        case None => merged
        case Some(colName) => merged.withColumnRenamed(UnionSrcCol, colName)
      }

    case QueryStep.Join(kind, sub, keys, lookup, strategy) =>
      compileJoin(df, kind, sub, keys, lookup, strategy)

    case QueryStep.Partition(by, sub) => compilePartition(df, by, sub)

    case QueryStep.ScanMatch(matchId, steps, declares, assigns) =>
      compileScan(df, matchId, steps, declares, assigns)

    // invoke: the parser already substituted params and dropped the
    // table-param head — fold the spliced steps like an inline prefix
    case QueryStep.Invoke(_, sub) => sub.foldLeft(df)(compileStep)

    // render is a client-side visualization directive — rows pass through
    case QueryStep.RenderHint(_) => df

    // consume: force the pipeline, emit one stats row — Kusto swallows
    // results and reports side statistics; the count row is our
    // documented equivalent (a lazy engine has nothing else to show)
    case QueryStep.Consume => df.agg(count(lit(1)).as("Count"))

    case QueryStep.CountStep => partitionKey match {
      case Some(pk) =>
        df.groupBy(compileField(df, pk).as(pk.flat)).agg(count(lit(1)).as("Count"))
      case None => df.agg(count(lit(1)).as("Count"))
    }

    case QueryStep.Write(target) =>
      // terminal sink: consume into the sink, emit nothing downstream.
      // Recorded, not executed — explaining a query must not mutate its
      // sinks; Kql.run flushes via runWrites().
      pendingWrites += ((df, resolveSinkSpec(target)))
      df.limit(0)

    case QueryStep.Tee(target) =>
      // write AND pass through; localCheckpoint so the side-write and the
      // downstream pipeline scan the input once, and — unlike cache(),
      // which pins executor storage until an unpersist nothing here can
      // safely issue — the blocks release once the RDD is GC'd
      val cached = df.localCheckpoint()
      pendingWrites += ((cached, resolveSinkSpec(target)))
      cached
  }

  /** Nested-aware field move (reference: `rename_field` remove-then-insert,
    * interpreter/mod.rs:558-597). Resolution is case-insensitive like
    * Spark's analyzer; removing a struct's only field cascades the drop
    * upward (Spark cannot represent an empty struct), and the inserted
    * value overwrites an existing column of the same name — including the
    * path's own parent.
    */
  private def compileRename(df: DataFrame, to: String, from: FieldPath): DataFrame = {
    if (from.parts.exists(_.arrIndices.nonEmpty))
      throw KqlParseException(
        s"project-rename of array-indexed field '${from.render}' not supported", 0)
    def resolve(fields: Seq[StructField], name: String): Option[StructField] =
      fields.find(_.name == name).orElse(fields.find(_.name.equalsIgnoreCase(name)))
    if (from.isSimple) {
      val actual = resolve(df.schema.fields.toSeq, from.simpleName)
        .map(_.name).getOrElse(from.simpleName)
      return df.withColumnRenamed(actual, to)
    }
    val names = from.parts.map(_.name)
    // resolved chain: actual field names + struct types along the path
    val chain = Seq.newBuilder[StructField]
    var fields: Seq[StructField] = df.schema.fields.toSeq
    names.foreach { n =>
      val f = resolve(fields, n).getOrElse(
        throw KqlParseException(s"project-rename: no field '${from.render}'", 0))
      chain += f
      fields = f.dataType match {
        case st: StructType => st.fields.toSeq
        case _ => Seq.empty
      }
    }
    val resolved = chain.result()
    // cascade: removing names[j] from its container; if that container is a
    // single-field struct, remove the container instead, up to the column
    var j = resolved.length - 1
    while (j > 0 && (resolved(j - 1).dataType match {
        case st: StructType => st.fields.length == 1
        case _ => false
      })) j -= 1
    val topName = resolved.head.name
    val tmp = "__graft_rename"
    val withValue = df.withColumn(tmp, compileField(df, from))
    val removed =
      if (j == 0) withValue.drop(topName)
      else withValue.withColumn(topName,
        col(topName).dropFields(resolved.slice(1, j + 1).map(_.name).mkString(".")))
    if (removed.columns.exists(_.equalsIgnoreCase(to)))
      removed.withColumn(to, col(tmp)).drop(tmp)
    else removed.withColumnRenamed(tmp, to)
  }

  /** Sink writes recorded during compilation; Kql.run executes them via
    * [[runWrites]], Kql.explain deliberately does not.
    */
  private val pendingWrites =
    scala.collection.mutable.ListBuffer[(DataFrame, SinkSpec)]()

  def runWrites(): Unit = {
    pendingWrites.foreach {
      case (d, SinkSpec(path, Some(key))) =>
        graft.sources.Sinks.upsert(spark, d, path, key)
      case (d, SinkSpec(path, None)) =>
        graft.sources.Sinks.append(d, path)
    }
    pendingWrites.clear()
  }

  private def resolveSinkSpec(target: String): SinkSpec =
    catalog.resolveSink(target).getOrElse(
      throw KqlParseException(s"unknown sink '$target'", 0))

  /** Split an OBJECT<...> body on top-level commas only (types nest via
    * `<...>` and `(...)` — DECIMAL(2,1), ARRAY<OBJECT<...>>). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' | '(' => depth += 1
        case '>' | ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.result()
  }


  /** Assemble the graph-pattern frame (shared by graph-match and
    * graph-shortest-paths): per-hop equi-joins on node ids, bounded
    * var-length unions, uniqueness filters. Returns the matched frame
    * plus the positional node/edge variable names.
    */
  private def buildGraphPattern(
      cycles: String, gNodes: Seq[QueryStep.GraphNode],
      gEdges: Seq[QueryStep.GraphEdge])
      : (DataFrame, Seq[String], Seq[String]) = {
    val (edf, ndf, idCol) = pendingGraph.getOrElse(throw KqlParseException(
      "graph-match requires a preceding make-graph", 0))
    pendingGraph = None
    val nodeNames = gNodes.zipWithIndex.map {
      case (n, i) => n.name.getOrElse(s"__gn$i") }
    val edgeNames = gEdges.zipWithIndex.map {
      case (e, i) => e.name.getOrElse(s"__ge$i") }
    val eOrig = edf.columns.filterNot(_.startsWith("__g"))
    def nodeFrame(v: String): DataFrame = ndf.select(
      col(s"`$idCol`").as(s"__id_$v"),
      struct(ndf.columns.map(c => col(s"`$c`")): _*).as(v))
    // one oriented hop: from/to per direction; dir 0 admits both
    def hop(v: String, dir: Int): DataFrame = {
      def o(f: String, t: String) = edf.select(
        col(f).as(s"__from_$v"), col(t).as(s"__to_$v"),
        col("__geid").as(s"__hopeid_$v"),
        struct(eOrig.map(c => col(s"`$c`")): _*).as(s"__hop_$v"))
      dir match {
        case 1 => o("__gsrc", "__gdst")
        case -1 => o("__gdst", "__gsrc")
        case _ => o("__gsrc", "__gdst").union(o("__gdst", "__gsrc"))
      }
    }
    // edge var frame: __from/__to endpoints, the var column (struct, or
    // array of structs for variable length), __eids (always array — one
    // uniform uniqueness representation), __nids (interior node ids)
    def edgeFrame(v: String, e: QueryStep.GraphEdge): DataFrame = {
      if (e.minHops == 1 && e.maxHops == 1) {
        val h = hop(v, e.direction)
        h.select(col(s"__from_$v"), col(s"__to_$v"),
          col(s"__hop_$v").as(v),
          array(col(s"__hopeid_$v")).as(s"__eids_$v"),
          array().cast("array<string>").as(s"__nids_$v"))
      } else {
        val variants = (e.minHops to e.maxHops).map { h =>
          val hops = (0 until h).map(j => hop(s"${v}_$j", e.direction))
          val joined = hops.reduceLeft[DataFrame] { case (acc, nxt) =>
            // acc's last hop index = count of joins so far; track via
            // columns: join on previous __to == next __from
            val prevTo = acc.columns.filter(_.startsWith(s"__to_${v}_"))
              .maxBy(c => c.drop(s"__to_${v}_".length).toInt)
            acc.join(nxt, col(prevTo) ===
              nxt.col(nxt.columns.find(_.startsWith("__from_")).get))
          }
          val structs = (0 until h).map(j => col(s"__hop_${v}_$j"))
          val eids = (0 until h).map(j => col(s"__hopeid_${v}_$j"))
          val interior = (0 until h - 1).map(j => col(s"__to_${v}_$j"))
          joined.select(col(s"__from_${v}_0").as(s"__from_$v"),
            col(s"__to_${v}_${h - 1}").as(s"__to_$v"),
            array(structs: _*).as(v),
            array(eids: _*).as(s"__eids_$v"),
            (if (interior.isEmpty) array().cast("array<string>")
             else array(interior: _*).cast("array<string>"))
              .as(s"__nids_$v"))
        }
        variants.reduce(_ unionByName _)
      }
    }
    var cur = nodeFrame(nodeNames.head)
    val boundNodes = scala.collection.mutable.Set(nodeNames.head)
    gEdges.indices.foreach { i =>
      val ev = edgeNames(i)
      val ef = edgeFrame(ev, gEdges(i))
      val nv = nodeNames(i + 1)
      cur = cur.join(ef, col(s"__id_${nodeNames(i)}") === col(s"__from_$ev"))
      if (boundNodes.add(nv))
        cur = cur.join(nodeFrame(nv), col(s"__to_$ev") === col(s"__id_$nv"))
      else
        // repeated node variable: same-node constraint (cyclic
        // pattern) — an equality filter against the first binding,
        // no second join and no duplicate struct column
        cur = cur.filter(col(s"__to_$ev") === col(s"__id_$nv"))
    }
    if (gEdges.nonEmpty) {
      // unique_edges (Kusto default): no edge instance repeats in a
      // path; cycles=none additionally forbids repeated nodes
      val allEids = concat(edgeNames.map(v => col(s"__eids_$v")): _*)
      cur = cur.filter(size(array_distinct(allEids)) === size(allEids))
      if (cycles == "none") {
        // ids compare via their string forms (uniform across id types)
        val allNids = concat(
          array(nodeNames.map(v => col(s"__id_$v")): _*).cast("array<string>") +:
            edgeNames.map(v => col(s"__nids_$v")): _*)
        cur = cur.filter(size(array_distinct(allNids)) === size(allNids))
      }
    }
    (cur, nodeNames, edgeNames)
  }

  /** Cross-type total-order key for a variant value, matching the
    * reference's Null < Bool < numbers < Timestamp < Timespan < String <
    * Array < Object order (`value/mod.rs:146-209`, enforced at runtime by
    * `type_tracker.rs:6-47`) — including RECURSIVE element-wise order for
    * arrays (`Vec<Value>::cmp`) and key-sorted tuple order for objects
    * (`BTreeMap::cmp`): [[graft.functions.VariantSortKey]] walks the
    * variant binary once per row and emits an order-preserving byte key
    * (unsigned lexicographic compare ≡ the reference's `Value::cmp`).
    * Spark-null and top-level JSON-null variants yield SQL NULL so
    * `nulls first|last` governs their placement (Value::Null is the
    * minimum of the reference's order, which KQL's default `asc` +
    * nulls-first reproduces) and null group keys drop.
    */
  private def variantOrderKey(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.VariantSortKey(expression(c)))
  }

  private def sortCol(df: DataFrame, k: SortKey): Column = {
    val c = k.expr match {
      // expression key: compile directly (variants order via the total-
      // order key like field keys do)
      case Some(e) =>
        val c0 = compile(df, e)
        if (infer(df, e) == KT.Var) variantOrderKey(c0) else c0
      case None =>
        val c0 = compileField(df, k.field)
        // variant sort keys order under the reference's cross-type total order
        if (fieldType(df, k.field) == KT.Var) variantOrderKey(c0) else c0
    }
    (k.order, k.nulls) match {
      case (SortOrder.Asc, NullsOrder.Last) => c.asc_nulls_last
      case (SortOrder.Asc, NullsOrder.First) => c.asc_nulls_first
      case (SortOrder.Desc, NullsOrder.Last) => c.desc_nulls_last
      case (SortOrder.Desc, NullsOrder.First) => c.desc_nulls_first
    }
  }

  private def compileSummarize(
      df: DataFrame, aggs0: Seq[AggField], by: Seq[ByField]): DataFrame = {
    // resolve `arg_max(f, *)` to every input column except the group keys
    // (Kusto's output shape: by keys once, then the winning row's columns),
    // and reject output-name collisions up front
    val aggs = aggs0.map { a =>
      a.agg match {
        case Aggregation.ArgExtremeRows(isMax, f, Nil) =>
          val keyNames = by.map(_.name.toLowerCase).toSet
          val rets = df.columns.toSeq
            .filterNot(c => keyNames.contains(c.toLowerCase))
            .map(c => FieldPath(Seq(FieldAccess(c))))
          a.copy(agg = Aggregation.ArgExtremeRows(isMax, f, rets))
        case _ => a
      }
    }
    locally {
      val out = by.map(_.name) ++ aggs.flatMap(a => a.agg match {
        case Aggregation.ArgExtremeRows(_, _, rets) => rets.map(_.flat)
        case _ => Seq(a.name)
      })
      val dup = out.groupBy(_.toLowerCase).collectFirst {
        case (_, vs) if vs.length > 1 => vs.head }
      dup.foreach(d => throw KqlParseException(
        s"summarize output column '$d' appears more than once — " +
          "project the inputs apart first", 0))
    }
    val hasMulti = aggs.exists(_.agg.isInstanceOf[Aggregation.ArgExtremeRows])
    def expand(base: DataFrame): DataFrame =
      if (!hasMulti) base
      else base.select(by.map(b => col(s"`${b.name}`")) ++ aggs.flatMap { a =>
        a.agg match {
          case Aggregation.ArgExtremeRows(_, _, rets) =>
            rets.map(r => col(s"`${a.name}`.`${r.flat}`").as(r.flat))
          case _ => Seq(col(s"`${a.name}`"))
        }
      }: _*)
    def isVar(b: ByField): Boolean = infer(df, b.expr) == KT.Var
    // Null group key drops the row (summarize.rs:151-153). For variant
    // keys the reference's Value::Null covers JSON null too, which Spark
    // keeps as a non-null VOID variant — the order-key struct nulls both.
    def eqKey(b: ByField): Column = {
      val c = compile(df, b.expr)
      if (isVar(b)) variantOrderKey(c) else c
    }
    val keyed = by.foldLeft(df)((acc, b) => acc.filter(eqKey(b).isNotNull))
    val aggCols = aggs.map(a => aggColumn(df, a.agg).as(a.name))
    if (by.isEmpty) expand(keyed.agg(aggCols.head, aggCols.tail: _*))
    else if (!by.exists(isVar))
      expand(keyed.groupBy(by.map(b => eqKey(b).as(b.name)): _*)
        .agg(aggCols.head, aggCols.tail: _*))
    else {
      // variant keys: group by the total-order key struct (value equality
      // under the reference's cross-type order — a variant 1 and 1.0 are
      // the same group, while "1" the string is not), but output the
      // variant value itself via a representative pick; every value in a
      // group is total-order-equal, so any representative is value-stable
      val gb = by.map(b =>
        if (isVar(b)) eqKey(b).as(s"__gk_${b.name}") else eqKey(b).as(b.name))
      val reprs = by.filter(isVar)
        .map(b => first(compile(df, b.expr)).as(b.name))
      val agged = keyed.groupBy(gb: _*)
        .agg((reprs ++ aggCols).head, (reprs ++ aggCols).tail: _*)
      expand(
        agged.select(by.map(b => col(b.name)) ++ aggs.map(a => col(a.name)): _*))
    }
  }

  /** `make-series` lowering — fully distributed, two hash aggregations and
    * zero joins: (1) group by (keys, bin index) with Catalyst partial/final
    * combine; (2) group by keys, folding each series into a bin-index map;
    * then one projection expands the map through `transform(sequence(…))`
    * into the gap-filled array (missing bins → the agg's default). Bins
    * anchor at `from` (Kusto bin_at semantics) and the range is
    * end-EXCLUSIVE ([start, end), Kusto's); omitted bounds derive from the
    * GLOBAL axis min/max, epoch-aligned like bin() — carried as columns
    * from a broadcast 1-row aggregate, so the plan stays lazy (no driver
    * collect). Series length is (hi−lo)/step — user-bounded by the query,
    * the same shape Kusto returns. */
  private def compileMakeSeries(
      df: DataFrame, aggs: Seq[(AggField, Expr)], axis: FieldPath,
      loE: Option[Expr], hiE: Option[Expr], stepE: Expr,
      by: Seq[ByField]): DataFrame = {
    val isTs = fieldType(df, axis) == KT.Ts
    // step in working units: long micros on a datetime axis (ints are
    // seconds, matching bin()), double on a numeric axis
    val stepU: Double = stepE match {
      case TimespanLit(m) if isTs => m.toDouble
      case IntLit(v) if isTs => v.toDouble * 1000000.0
      case IntLit(v) => v.toDouble
      case FloatLit(v) if !isTs => v
      case _ => throw KqlParseException(
        "make-series step must be a literal (timespan on a datetime axis, " +
          "number on a numeric one)", 0)
    }
    if (stepU <= 0) throw KqlParseException("make-series step must be positive", 0)
    def boundU(e: Expr, which: String): Double = e match {
      case DatetimeLit(m) if isTs => m.toDouble
      case IntLit(v) if isTs => v.toDouble * 1000000.0
      case IntLit(v) => v.toDouble
      case FloatLit(v) if !isTs => v
      case Neg(inner) => -boundU(inner, which)
      case _ => throw KqlParseException(
        s"make-series $which bound must be a literal", 0)
    }
    // axis value in working units. The datetime path stays in LONG micros
    // end-to-end (floor via pmod) — double division at exact bin
    // boundaries can land 1 ulp low and misbin; numeric axes work in
    // double like the rest of the engine.
    val axisU: Column =
      if (isTs) unix_micros(compileField(df, axis))
      else if (fieldType(df, axis) == KT.Var)
        // variant axis: non-numeric values null out (row-drop policy),
        // never ANSI-error
        compileField(df, axis).try_cast(DoubleType)
      else compileField(df, axis).cast(DoubleType)
    val stepL = stepU.toLong
    // epoch-aligned floor-to-bin (exact for longs, pmod handles negatives).
    // Column./ is double division; the quotient of two exactly-representable
    // longs (< 2^53, i.e. micros through ~2255) is itself exact, and the
    // cast restores the long type the downstream sequence/map keys need.
    def alignL(c: Column): Column = c - pmod(c, lit(stepL))
    def floorDivL(c: Column): Column = (alignL(c) / lit(stepL)).cast(LongType)
    val (withBounds, loC, nC) = (loE, hiE) match {
      case (Some(l), Some(h)) =>
        val loV = boundU(l, "from")
        val hiV = boundU(h, "to")
        val n = math.ceil((hiV - loV) / stepU).toLong.max(0L)
        if (n == 0) throw KqlParseException("make-series range is empty", 0)
        (df, if (isTs) lit(loV.toLong) else lit(loV), lit(n))
      case (None, None) =>
        // derived bounds: epoch-aligned bin of the global [min, max] —
        // one broadcast 1-row cross join, no driver action
        val b = df.agg(
          min(axisU).as("__ms_min"), max(axisU).as("__ms_max"))
        val j = df.crossJoin(broadcast(b))
        if (isTs)
          (j, alignL(col("__ms_min")),
            floorDivL(col("__ms_max")) - floorDivL(col("__ms_min")) + 1L)
        else
          (j, floor(col("__ms_min") / stepU) * stepU,
            (floor(col("__ms_max") / stepU) - floor(col("__ms_min") / stepU))
              .cast(LongType) + 1L)
      case _ => throw KqlParseException(
        "make-series needs both 'from' and 'to' (or neither)", 0)
    }
    // variant group keys would need summarize's order-key/representative
    // machinery across BOTH aggregation levels — reject with the actionable
    // alternative rather than letting Spark throw NOT_ORDERABLE
    for (b <- by if infer(df, b.expr) == KT.Var)
      throw KqlParseException(
        s"make-series by a dynamic key ('${b.name}') is not supported — " +
          "tostring() it first", 0)
    val idx =
      if (isTs) floorDivL(axisU - loC)
      else floor((axisU - loC) / stepU).cast(LongType)
    // null group keys drop the row, like summarize
    val keyed = by.foldLeft(
      withBounds.filter(axisU.isNotNull && idx >= 0 && idx < nC))(
      (acc, b) => acc.filter(compile(acc, b.expr).isNotNull))
    val keyCols = by.map(b => compile(keyed, b.expr).as(b.name))
    val lvl1 = keyed.groupBy(
      (keyCols :+ idx.as("__ms_idx") :+ loC.as("__ms_lo") :+ nC.as("__ms_n")): _*)
      .agg(aggColumn(keyed, aggs.head._1.agg).as(aggs.head._1.name),
        aggs.tail.map(a => aggColumn(keyed, a._1.agg).as(a._1.name)): _*)
    val mapCols = aggs.map { case (a, _) =>
      map_from_entries(collect_list(struct(col("__ms_idx"), col(a.name))))
        .as(s"__ms_m_${a.name}")
    }
    val carry = Seq(first(col("__ms_lo")).as("__ms_lo"),
      first(col("__ms_n")).as("__ms_n"))
    val lvl2 = lvl1.groupBy(by.map(b => col(b.name)): _*)
      .agg((mapCols ++ carry).head, (mapCols ++ carry).tail: _*)
      // with no by-keys a global agg over EMPTY input still emits one row
      // (null lo/n) — drop it so empty input yields an empty result, the
      // same contract as the grouped case (groups with no rows vanish)
      .filter(col("__ms_n").isNotNull)
    val ks = sequence(lit(0L), col("__ms_n") - 1L)
    val axisArr =
      if (isTs) transform(ks, k => timestamp_micros(col("__ms_lo") + k * stepL))
      else transform(ks, k => col("__ms_lo") + k.cast(DoubleType) * stepU)
    val aggArrs = aggs.map { case (a, dflt) =>
      transform(ks, k =>
        coalesce(element_at(col(s"__ms_m_${a.name}"), k),
          compile(lvl2, dflt))).as(a.name)
    }
    lvl2.select(
      (by.map(b => col(b.name)) ++ aggArrs :+ axisArr.as(axis.flat)): _*)
  }

  /** Lower one aggregation to its Spark Column (shared by summarize,
    * top-nested, and pivot). */
  private def aggColumn(df: DataFrame, agg: Aggregation): Column = {
    // variant-typed agg inputs tolerate non-numeric values (→ null, skipped)
    def numeric(f: FieldPath): Column = {
      val c = compileField(df, f)
      if (fieldType(df, f) == KT.Var) c.try_cast(DoubleType) else c.cast(DoubleType)
    }
    def ordered(f: FieldPath): Column = {
      val c = compileField(df, f)
      if (fieldType(df, f) == KT.Var) c.try_cast(StringType) else c
    }
    // min/max keep native types for typed columns; variant values compare
    // numerically (string form would order "99" above "100") — non-numeric
    // variants null out, a documented narrowing of the reference's
    // cross-type total order
    def minmax(f: FieldPath): Column = {
      val c = compileField(df, f)
      if (fieldType(df, f) == KT.Var) c.try_cast(DoubleType) else c
    }
    agg match {
        case Aggregation.Count => count(lit(1))
        case Aggregation.Countif(e) => count_if(compileBool(df, e))
        // the reference's dcount set counts an explicit Null as a distinct
        // value (tests.rs:2051-2061: {1,1,null,null,2} → 3); SQL's
        // count(distinct) excludes nulls, so add one when any null exists
        case Aggregation.DCount(f) =>
          count_distinct(ordered(f)) +
            coalesce(max(when(ordered(f).isNull, 1L).otherwise(0L)), lit(0L))
        // HLL++ fast mode: partial sketches merge map-side, no exact
        // per-key distinct shuffle — the 100 TB path when ±2% is fine.
        // Same null-counts-as-a-distinct adjustment as exact dcount.
        case Aggregation.DCountApprox(f) =>
          approx_count_distinct(ordered(f)) +
            coalesce(max(when(ordered(f).isNull, 1L).otherwise(0L)), lit(0L))
        // sum/avg accumulate as f64 starting at 0.0 in the reference
        // (summarize.rs:580-596), so empty/all-non-numeric input yields
        // 0.0 — not SQL's null (tests.rs:1067-1083)
        case Aggregation.Sum(f) => coalesce(sum(numeric(f)), lit(0.0))
        case Aggregation.Avg(f) => coalesce(avg(numeric(f)), lit(0.0))
        case Aggregation.Min(f) => min(minmax(f))
        case Aggregation.Max(f) => max(minmax(f))
        // approximate percentile: mergeable sketch state, partial/final
        // aggregation — no per-group sort of the data (the 100 TB path;
        // Azure KQL's percentile is likewise approximate). Accuracy knob
        // is the sketch budget; empty input → null like min/max.
        case Aggregation.Percentile(f, p) =>
          percentile_approx(numeric(f), lit(p / 100.0), lit(10000))
        // collected arrays are SORTED (KQL leaves order unspecified; a
        // deterministic order is the only stable contract under shuffles
        // and re-runs). collect_list drops nulls, matching KQL's make_list.
        case Aggregation.MakeList(f) => array_sort(collect_list(ordered(f)))
        case Aggregation.MakeSet(f) => array_sort(collect_set(ordered(f)))
        case Aggregation.MakeListIf(f, pred) =>
          array_sort(collect_list(when(compileBool(df, pred), ordered(f))))
        case Aggregation.MakeSetIf(f, pred) =>
          array_sort(collect_set(when(compileBool(df, pred), ordered(f))))
        // nulls survive via a one-field struct wrapper (collect_list
        // drops bare nulls, never structs); array_sort puts them last
        case Aggregation.MakeListNulls(f) =>
          transform(
            array_sort(collect_list(struct(ordered(f).as("v")))),
            s => s.getField("v"))
        // Kusto's take_any is arbitrary; the minimum is arbitrary-but-
        // STABLE under shuffles/re-runs (same policy as make_set's sort).
        // Variant values pick via the cross-type order key so the VALUE is
        // preserved (minmax's numeric narrowing would null non-numerics).
        case Aggregation.TakeAny(f) =>
          val c = compileField(df, f)
          if (fieldType(df, f) == KT.Var) min_by(c, variantOrderKey(c))
          else min(minmax(f))
        case Aggregation.BinaryAll(op, f) =>
          val c = compileField(df, f)
          val v = if (fieldType(df, f) == KT.Var) c.try_cast(LongType)
          else c.cast(LongType)
          op match {
            case "and" => bit_and(v)
            case "or" => bit_or(v)
            case "xor" => bit_xor(v)
          }
        // mergeable HLL sketch state (binary) — the pre-aggregated rollup
        // primitive: hll() per fine-grained group, store, then hll_merge()
        // across groups and dcount_hll() to estimate; partial/final
        // aggregation both map-side combinable. hll_sketch_agg accepts
        // only int/long/string/binary — other types hash via their string
        // form (injective for double/bool/timestamp renderings).
        case Aggregation.Hll(f) => fieldType(df, f) match {
          case KT.Int | KT.Str => hll_sketch_agg(compileField(df, f))
          case _ => hll_sketch_agg(ordered(f).cast(StringType))
        }
        case Aggregation.HllMerge(f) => hll_union_agg(compileField(df, f))
        case Aggregation.Percentiles(_, _) => throw KqlParseException(
          "percentiles() is summarize-only — use percentile(f, p) here", 0)
        // minimal merged schema of a dynamic column: per-row shape
        // kernel → distinct shape set (tiny — shapes, not values) →
        // one merge per group; result re-parses to a variant
        case Aggregation.BuildSchema(f) => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          // variant input: walk the binary encoding directly (no JSON
          // serialize + reparse per row — round-7 kql_aggschema audit)
          val src = compileField(df, f)
          val shapeIn =
            if (fieldType(df, f) == KT.Var) src else src.cast(StringType)
          val shape = column(graft.functions.SchemaOf(expression(shapeIn)))
          try_parse_json(column(graft.functions.SchemaMerge(
            expression(sort_array(collect_set(shape))))))
        }
        // one sketch pass, N estimates, ONE array column
        case Aggregation.PercentilesArray(f, ps) =>
          percentile_approx(numeric(f),
            array(ps.map(p => lit(p / 100.0)): _*), lit(10000))
        // frequency-weighted exact percentile (each row counts w times;
        // linear interpolation over the expanded multiset). Negative/null
        // weights are row errors ⇒ weight 0, which the aggregate skips
        // (a raw negative would abort the whole query — Spark validates)
        case Aggregation.PercentileW(f, w, p) =>
          val wc = compileField(df, w).try_cast(LongType)
          call_function("percentile", numeric(f), lit(p / 100.0),
            when(wc > 0L, wc).otherwise(lit(0L)))
        // arg extremes: lexicographic struct max/min gives a total rule —
        // extreme key first, then extreme return value on key ties (KQL
        // leaves ties unspecified; totality keeps re-runs identical). Rows
        // with a null key are dropped via the when() guard, like KQL.
        case Aggregation.ArgMax(f, ret) =>
          val k = minmax(f)
          max(when(k.isNotNull, struct(k.as("_k"), ordered(ret).as("_v"))))
            .getField("_v")
        case Aggregation.ArgMin(f, ret) =>
          val k = minmax(f)
          min(when(k.isNotNull, struct(k.as("_k"), ordered(ret).as("_v"))))
            .getField("_v")
        // multi-return form: the winning row's fields ride in ONE struct
        // through the same lexicographic extreme (key first, then returns
        // in listed order — a total tie rule); expansion to named columns
        // happens in compileSummarize, which also resolves `*`
        case Aggregation.ArgExtremeRows(isMax, f, rets) =>
          if (rets.isEmpty) throw KqlParseException(
            "arg_max/arg_min(…, *) is summarize-only", 0)
          val k = minmax(f)
          val payload = struct(rets.map(r => ordered(r).as(r.flat)): _*)
          val s = when(k.isNotNull, struct(k.as("_k"), payload.as("_v")))
          (if (isMax) max(s) else min(s)).getField("_v")
        // make_bag: bag JSON texts → sorted list → one native shallow
        // merge per group (first sorted bag wins each key — deterministic
        // where Kusto is arbitrary); result re-parses to a variant so
        // field paths and bag_* scalars compose
        case Aggregation.MakeBag(f, pred) => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          val bagTxt = compileField(df, f).cast(StringType)
          val kept = pred match {
            case Some(p) => when(compileBool(df, p), bagTxt)
            case None => bagTxt
          }
          try_parse_json(column(graft.functions.MergeJsonBags(
            expression(sort_array(collect_list(kept))))))
        }
        // mergeable percentile sketches (the rank analog of hll/hll_merge)
        case Aggregation.TDigestA(f) => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TDigestAgg(
            expression(numeric(f)), isMerge = false).toAggregateExpression())
        }
        case Aggregation.TDigestMerge(f) => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TDigestAgg(
            expression(compileField(df, f)), isMerge = true)
            .toAggregateExpression())
        }
        // mergeable heavy-hitters sketches (DataSketches frequent-items
        // via Spark's approx_top_k family — the frequency analog of
        // hll/tdigest): topk_approx = sketch+estimate in one level;
        // accum/merge split it for rollups, topk_estimate() reads out
        case Aggregation.TopKApprox(f, k) =>
          call_function("approx_top_k", compileField(df, f), lit(k))
        case Aggregation.TopKAccum(f) =>
          call_function("approx_top_k_accumulate", compileField(df, f))
        // the combine wrapped so an empty partition's buffer is safe
        case Aggregation.TopKMerge(f) => {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.functions.TopKCombine(expression(compileField(df, f)))
            .toAggregateExpression())
        }
        // sample (n−1) forms, KQL convention; empty/singleton groups → null
        case Aggregation.Stdev(f) => stddev_samp(numeric(f))
        case Aggregation.Variance(f) => var_samp(numeric(f))
        // population (n) forms; covariance pairs drop rows where either
        // side is null (Spark and DuckDB covar_* agree on that rule)
        case Aggregation.StdevP(f) => stddev_pop(numeric(f))
        case Aggregation.VarianceP(f) => var_pop(numeric(f))
        case Aggregation.Covariance(pop, a, b) =>
          if (pop) covar_pop(numeric(a), numeric(b))
          else covar_samp(numeric(a), numeric(b))
        case Aggregation.Correlation(a, b) =>
          corr(numeric(a), numeric(b))
        // conditional family: aggregate only predicate-truthy rows (the
        // when() leaves non-matching rows null, which every aggregate
        // skips). sumif keeps the reference's empty-sum→0.0 convention;
        // dcountif keeps dcount's explicit-null-counts-as-distinct rule.
        case Aggregation.AggIf(kind, f, pred) =>
          val p = compileBool(df, pred)
          kind match {
            case "sumif" => coalesce(sum(when(p, numeric(f))), lit(0.0))
            case "avgif" => avg(when(p, numeric(f)))
            case "minif" => min(when(p, minmax(f)))
            case "maxif" => max(when(p, minmax(f)))
            case "stdevif" => stddev_samp(when(p, numeric(f)))
            case "varianceif" => var_samp(when(p, numeric(f)))
            case "dcountif" =>
              count_distinct(when(p, ordered(f))) + coalesce(
                max(when(p.and(ordered(f).isNull), 1L).otherwise(0L)), lit(0L))
            // take_any's arbitrary-but-stable minimum, over matching rows
            case "take_anyif" =>
              if (fieldType(df, f) == KT.Var) {
                val c = when(p, compileField(df, f))
                min_by(c, variantOrderKey(c))
              } else min(when(p, minmax(f)))
          }
    }
  }

  /** KQL-style join (§2.3): single-key equi join; rows with a null/missing
    * key are dropped from BOTH sides even for outer joins
    * (`join.rs:183-185,232-234`); right-side columns that collide with left
    * names get `1`,`2`,… suffixes, except the join key itself which is
    * deduplicated (`join.rs:57-86`); left/right joins keep the kept side's
    * values and only add the other side's non-colliding columns
    * (`join.rs:143-160`).
    *
    * Schema-level deviation from the reference's per-row rule: the
    * reference skips a colliding right value only when it equals the row's
    * join-key value; a fixed schema can't vary per row, so we dedupe the
    * join-key column and suffix every other collision.
    *
    * Scale: Spark picks broadcast/shuffled-hash/sort-merge; AQE re-plans at
    * runtime. The reference's `hint.partitions=N` and dynamic `In` filters
    * are subsumed by shuffle partitioning and DPP/runtime filters.
    */
  /** Upper bound on the distinct count of `field` in a subquery's output,
    * from CACHED catalog stats — a conservative subset of the reference
    * DynamicFilter's `calculate_max_distinct_count`
    * (`dynamic_filter.rs:158-215`): usable only when the head is a plain
    * scan of a stats-known table and no later step can redefine the field
    * (filters/sorts only shrink cardinality; limits cap it; any
    * project/extend/rename/summarize gives up).
    */
  private def maxDistinct(sub: Query, field: FieldPath): Option[Long] = {
    sub.steps.headOption match {
      case Some(QueryStep.Scan(src)) =>
        var cap = Long.MaxValue
        val analyzable = sub.steps.tail.forall {
          case _: QueryStep.Filter | _: QueryStep.Sort |
               _: QueryStep.Search | QueryStep.Serialize => true
          case QueryStep.Limit(n) => cap = math.min(cap, n); true
          case QueryStep.TopN(_, n) => cap = math.min(cap, n); true
          case _ => false
        }
        if (!analyzable) None
        else {
          val fromStats = catalog.stats(src)
            .flatMap(_.fields.get(field.simpleName))
            .map(fs => math.min(fs.distinctCount, cap))
          fromStats.orElse(if (cap != Long.MaxValue) Some(cap) else None)
        }
      case _ => None
    }
  }

  /** First `n` rows of each key's subtable in `keys` order — the per-key
    * form of take/top: a key-partitioned row_number filter (one hash
    * shuffle, no global sort, no single-partition stage). */
  private def perKeyHead(
      df: DataFrame, pk: FieldPath, keys: Seq[SortKey], n: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(compileField(df, pk))
      .orderBy(keys.map(k => sortCol(df, k)): _*)
    val rk = "__graft_prk"
    df.withColumn(rk, row_number().over(w))
      .filter(col(rk) <= n.toInt).drop(rk)
  }

  /** `scan` lowering — ordered sequence matching with Kusto's PER-STEP
    * state model: each step holds at most one active sequence, so up to
    * `nSteps` partial matches are in flight concurrently. Per record,
    * steps are evaluated in REVERSE order (so one record advances a
    * sequence at most one step, as Kusto documents):
    *
    *   - record satisfies step k (k > 1): if step k-1 holds a sequence,
    *     it is PROMOTED to step k — replacing ("overwriting", in Kusto's
    *     wording) any sequence already parked at step k, and leaving
    *     step k-1 empty for a fresh sequence to start behind it; else if
    *     step k itself holds a sequence, the record is absorbed into it
    *     (steps absorb repeats); else the record does nothing at k
    *   - record satisfies step 1: starts a new sequence if step 1 is
    *     empty (match id increments, 1-based in first-start order), else
    *     absorbs into the sequence already at step 1 — sequences never
    *     fork
    *   - a sequence promoted into the LAST step completes and is removed;
    *     a 1-step scan completes every starting record immediately
    *   - only matched rows are emitted, tagged (`step`, match id); a
    *     match that never completes still emitted its rows (Kusto too)
    *
    * Documented deviations (README): `declare` state variables are not
    * supported (rejected with row_cumsum guidance), and a record acts on
    * at most ONE step — the highest step whose condition it satisfies
    * with an applicable state — where Kusto can match one record into
    * several steps' sequences when conditions overlap.
    *
    * Spark-first split: every step condition is pre-evaluated as a
    * codegen'd boolean COLUMN (Tungsten does the per-row work); only the
    * inherently-sequential state machine — whose entire per-key state is
    * one Long per step (the resident match id, 0 = empty) — runs
    * imperatively, per key group, via flatMapSortedGroups — the minimal
    * mapPartitions-class scope. Serialized input is required (same
    * contract as the window scalars); inside `partition by` the machine
    * runs per key and the whole operator distributes over the key
    * shuffle. */
  private def compileScan(
      df: DataFrame, matchIdName: Option[String],
      steps: Seq[(String, Expr)],
      declares: Seq[QueryStep.ScanVar] = Nil,
      assigns: Seq[Seq[QueryStep.ScanAssign]] = Nil): DataFrame = {
    val keys = serialOrder.getOrElse(throw KqlParseException(
      "scan requires a serialized input — add a 'sort by' first (wrap in " +
        "'partition by key (…)' for data-scale sequences)", 0))
    val midName = matchIdName.getOrElse("match_id")
    for (clash <- (Seq("step", midName) ++ declares.map(_.name)).find(n =>
      df.columns.exists(_.equalsIgnoreCase(n))))
      throw KqlParseException(
        s"scan output column '$clash' collides with an input column — " +
          "project it away or rename it first", 0)
    val baseW = df.columns.length
    val condCols = steps.zipWithIndex.map { case ((_, cond), i) =>
      compileBool(df, cond).as(s"__scan_c$i")
    }
    // declared-variable machinery: assignment RHS expressions are
    // VARIABLE-FREE (parser-enforced), so they precompile to ordinary
    // columns typed per the target variable; the fold applies the
    // restricted operator (set/add/sub/mul/min/max) to per-SEQUENCE
    // state, reset to defaults when a sequence starts (ADX's rule)
    val varIdx = declares.map(_.name).zipWithIndex.toMap
    val varLong = declares.map(_.typ == "long").toArray
    val defaults: Array[Any] = declares.map(v =>
      // force Any per branch — a bare if/else would numerically WIDEN
      // the Long branch to Double before boxing
      if (v.typ == "long") (v.default.toLong: Any)
      else (v.default: Any)).toArray
    val stepAssigns: Seq[Seq[QueryStep.ScanAssign]] =
      if (assigns.isEmpty) steps.map(_ => Nil) else assigns
    val assignCols = stepAssigns.zipWithIndex.flatMap { case (as, i) =>
      as.zipWithIndex.map { case (a, j) =>
        val c0 = compile(df, a.expr)
        (if (varLong(varIdx(a.varName))) c0.try_cast(LongType)
         else c0.try_cast(DoubleType)).as(s"__scan_a${i}_$j")
      }
    }
    // flat position of step i's j-th assignment value column
    val assignBase = baseW + steps.length
    val assignOffset: Array[Int] =
      stepAssigns.scanLeft(0)(_ + _.length).toArray
    // group key: the enclosing partition key, or one global group (the
    // serialized contract) — stringified so one encoder fits every type,
    // with a v/n discriminator so a null key stays distinct from an
    // empty-string key (every other per-key step keeps null as its own
    // group; scan must match)
    val keyCol = partitionKey
      .map { p =>
        val c = compileField(df, p)
        when(c.isNull, lit("n")).otherwise(concat(lit("v"), c.cast(StringType)))
      }
      .getOrElse(lit("g"))
      .as("__scan_k")
    val prepared = df.select(
      (df.columns.map(c => col(s"`$c`")) ++ condCols ++ assignCols
        :+ keyCol): _*)
    val outSchema = org.apache.spark.sql.types.StructType(
      (df.schema.fields :+
        org.apache.spark.sql.types.StructField("step", StringType) :+
        org.apache.spark.sql.types.StructField(
          matchIdName.getOrElse("match_id"), LongType)) ++
        declares.map(v => org.apache.spark.sql.types.StructField(
          v.name, if (v.typ == "long") LongType else DoubleType)))
    val stepNames = steps.map(_._1)
    val nSteps = steps.length
    val nVars = declares.length
    val sortCols = keys.map(k => sortCol(prepared, k))
    import spark.implicits._
    prepared
      .groupByKey(r => Option(r.getString(r.length - 1)).getOrElse(""))
      .flatMapSortedGroups(sortCols: _*) { (_, rows) =>
        // state(k) = match id of the sequence parked at step k, 0 = empty
        val state = new Array[Long](nSteps)
        var nextMid = 0L
        // per-active-sequence variable values, keyed by match id
        val seqVars = scala.collection.mutable.LongMap[Array[Any]]()
        rows.flatMap { r =>
          def c(i: Int): Boolean = !r.isNullAt(baseW + i) && r.getBoolean(baseW + i)
          def applyAssigns(stepIdx: Int, vars: Array[Any]): Unit = {
            val as = stepAssigns(stepIdx)
            var j = 0
            while (j < as.length) {
              val pos = assignBase + assignOffset(stepIdx) + j
              val vi = varIdx(as(j).varName)
              if (!r.isNullAt(pos)) { // null RHS skips (row-error policy)
                if (varLong(vi)) {
                  val e = r.getLong(pos)
                  val cur = vars(vi).asInstanceOf[Long]
                  vars(vi) = as(j).op match {
                    case "set" => e
                    case "add" => cur + e
                    case "sub" => cur - e
                    case "mul" => cur * e
                    case "min" => math.min(cur, e)
                    case _ => math.max(cur, e)
                  }
                } else {
                  val e = r.getDouble(pos)
                  val cur = vars(vi).asInstanceOf[Double]
                  vars(vi) = as(j).op match {
                    case "set" => e
                    case "add" => cur + e
                    case "sub" => cur - e
                    case "mul" => cur * e
                    case "min" => math.min(cur, e)
                    case _ => math.max(cur, e)
                  }
                }
              }
              j += 1
            }
          }
          // reverse-order step walk; first applicable action wins
          var emitStep = -1
          var emitMid = 0L
          var emitVars: Array[Any] = null
          var k = nSteps - 1
          while (k >= 0 && emitStep < 0) {
            if (c(k)) {
              if (k == 0) {
                if (state(0) == 0L) {
                  nextMid += 1
                  val vars = defaults.clone()
                  applyAssigns(0, vars)
                  // 1-step machines complete (and clear) immediately
                  if (nSteps > 1) { state(0) = nextMid; seqVars(nextMid) = vars }
                  emitStep = 0; emitMid = nextMid; emitVars = vars
                } else { // absorb at 0
                  emitStep = 0; emitMid = state(0)
                  val vars = seqVars.getOrElse(emitMid, defaults.clone())
                  applyAssigns(0, vars)
                  seqVars(emitMid) = vars
                  emitVars = vars
                }
              } else if (state(k - 1) != 0L) {
                // promote, overwriting any sequence already at step k
                emitMid = state(k - 1)
                if (state(k) != 0L && state(k) != emitMid)
                  seqVars.remove(state(k)) // overwritten sequence's state
                state(k - 1) = 0L
                val vars = seqVars.getOrElse(emitMid, defaults.clone())
                applyAssigns(k, vars)
                if (k == nSteps - 1) { // complete
                  state(k) = 0L
                  seqVars.remove(emitMid)
                } else {
                  state(k) = emitMid
                  seqVars(emitMid) = vars
                }
                emitStep = k
                emitVars = vars
              } else if (state(k) != 0L) { // absorb at k
                emitStep = k; emitMid = state(k)
                val vars = seqVars.getOrElse(emitMid, defaults.clone())
                applyAssigns(k, vars)
                seqVars(emitMid) = vars
                emitVars = vars
              }
            }
            k -= 1
          }
          if (emitStep < 0) None
          else Some(Row.fromSeq(
            r.toSeq.take(baseW) ++ Seq(stepNames(emitStep), emitMid) ++
              (if (nVars == 0) Nil else emitVars.toSeq)))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** `partition by` lowering (Kusto's partition operator): no per-key loop
    * and no materialized per-key subtables — the sub-pipeline compiles
    * with [[partitionKey]] set, which turns every order-sensitive step
    * into its key-partitioned form: window scalars partition by the key,
    * summarize/count gain the key as implicit group key, take/top become
    * per-key row_number filters, sort becomes repartition +
    * sortWithinPartitions. ONE hash shuffle on the key serves the whole
    * sub-pipeline (Catalyst reuses the exchange across the window steps);
    * row-wise steps stay narrow. Steps whose semantics escape the per-key
    * scope (joins, unions, sinks, nested partitions, whole-table
    * operators) are rejected loudly — apply them after the partition
    * step. */
  private def compilePartition(
      df: DataFrame, by: FieldPath, sub: Seq[QueryStep]): DataFrame = {
    if (by.isSimple && !df.columns.exists(_.equalsIgnoreCase(by.simpleName)))
      throw KqlParseException(
        s"partition column '${by.render}' not found in the input", 0)
    val savedKey = partitionKey
    val savedOrder = serialOrder
    partitionKey = Some(by)
    serialOrder = None
    // the guard recurses through invoke splices — a tabular function let
    // must not smuggle a join/union/sink into the per-key scope
    def guard(s: QueryStep): Unit = s match {
      case _: QueryStep.Join | _: QueryStep.Union |
           _: QueryStep.Partition | _: QueryStep.Write |
           _: QueryStep.Tee | _: QueryStep.Pivot |
           _: QueryStep.TopNested | _: QueryStep.TopHitters |
           _: QueryStep.SampleDistinct | _: QueryStep.Sample |
           _: QueryStep.ReduceBy | _: QueryStep.Facet |
           _: QueryStep.Fork | QueryStep.GetSchema =>
        throw KqlParseException(
          "step not supported inside 'partition by' — apply it after the " +
            "partition step", 0)
      case QueryStep.Invoke(_, sub2) => sub2.foreach(guard)
      case _ => ()
    }
    sub.foreach(guard)
    try sub.foldLeft(df)(compileStep)
    finally { partitionKey = savedKey; serialOrder = savedOrder }
  }

  private def compileJoin(
      left: DataFrame, kind: JoinKind, sub: Query,
      keys: Seq[(FieldPath, FieldPath)], lookup: Boolean = false,
      strategy: Option[String] = None): DataFrame = {
    // `hint.strategy=…` is the user's explicit physical choice and wins
    // over the stats heuristic below: broadcast → Spark broadcast hint on
    // the build side; shuffle → shuffle_hash hint, which also suppresses
    // an auto-broadcast Catalyst would otherwise pick (the Kusto shuffle
    // hint's purpose — a build side known to blow the driver/executor
    // memory despite a small size ESTIMATE)
    val right0 = strategy match {
      case Some("broadcast") => broadcast(compile(sub))
      case Some("shuffle") => compile(sub).hint("shuffle_hash")
      case _ => compile(sub)
    }
    // stats-driven broadcast (reference DynamicFilter,
    // dynamic_filter.rs:30-115 with the 10000-distinct default from
    // args.rs): when cached connector stats bound the build side's
    // join-key cardinality, hint the broadcast explicitly — Spark's
    // size-in-bytes heuristic misses small-cardinality inputs whose
    // estimate is unavailable or inflated (views, filtered wide tables).
    // The hint is advisory: Catalyst ignores it where the join kind
    // cannot broadcast that side.
    val rightSmall = keys.nonEmpty && keys.forall { case (_, rk) =>
      maxDistinct(sub, rk).exists(_ <= Compiler.DynamicFilterMaxDistinct)
    }
    val broadcastable = kind match {
      case JoinKind.Inner | JoinKind.InnerUnique | JoinKind.Left |
           JoinKind.LeftSemi | JoinKind.LeftAnti => true
      case _ => false
    }
    val right =
      if (strategy.isEmpty && rightSmall && broadcastable) broadcast(right0)
      else right0
    // key expressions compile through the schema-aware path BEFORE aliasing,
    // into temp columns: nested (`a.b`), array-indexed (`a.b[0]`), variant,
    // and missing fields all get their usual lowering (a missing key is
    // null, and null keys drop — join.rs:183-185; with multiple pairs ANY
    // null key drops the row, the one-key rule applied conjunctively), and
    // the join condition stays plain column equalities (equi-join →
    // hash/broadcast-able)
    // lookup keeps null-key left rows (they survive unmatched, like any
    // other key without a dimension row) — the plain === condition below
    // already guarantees nulls never MATCH
    val lPre = keys.zipWithIndex.foldLeft(left) { case (d, ((lk, _), i)) =>
      val keyed = d.withColumn(s"__lkey$i", compileField(left, lk))
      if (lookup) keyed else keyed.filter(col(s"__lkey$i").isNotNull)
    }
    // innerunique: ONE left row per key value joins (ADX's default kind).
    // ADX's pick is arbitrary; ours is deterministic — row_number over
    // the left row's orderable columns (partition-invariant, so results
    // are stable across runs and replayable by the oracle). One window
    // shuffle on the same keys the join shuffles on (exchange reuse).
    val lDedup =
      if (kind != JoinKind.InnerUnique) lPre
      else {
        import org.apache.spark.sql.expressions.Window
        val keyCols = keys.indices.map(i => col(s"__lkey$i"))
        val ord = left.schema.fields.filter(f =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType))
          .map(f => col(s"`${f.name}`")).toSeq
        val w = Window.partitionBy(keyCols: _*)
          .orderBy((if (ord.isEmpty) Seq(lit(1)) else ord): _*)
        lPre.withColumn("__iu_rn", row_number().over(w))
          .filter(col("__iu_rn") === 1).drop("__iu_rn")
      }
    val l = lDedup.alias("__l")
    val r = keys.zipWithIndex.foldLeft(right) { case (d, ((_, rk), i)) =>
      val keyed = d.withColumn(s"__rkey$i", compileField(right, rk))
      if (lookup) keyed else keyed.filter(col(s"__rkey$i").isNotNull)
    }.alias("__r")

    val cond = keys.indices
      .map(i => col(s"__l.__lkey$i") === col(s"__r.__rkey$i"))
      .reduce(_ && _)

    // existence joins return early: output is ONE side's original columns,
    // filtered by key presence/absence on the other — no merge, no
    // collision suffixes. Catalyst plans these as broadcast/shuffled
    // semi/anti hash joins (the probe side streams; the filter side builds),
    // the right shape for blocklist removal at scale.
    kind match {
      case JoinKind.LeftSemi | JoinKind.LeftAnti =>
        val how = if (kind == JoinKind.LeftSemi) "left_semi" else "left_anti"
        return l.join(r, cond, how)
          .select(left.columns.toSeq.map(c => col(s"__l.$c").as(c)): _*)
      case JoinKind.RightSemi | JoinKind.RightAnti =>
        val how = if (kind == JoinKind.RightSemi) "left_semi" else "left_anti"
        return r.join(l, cond, how)
          .select(right.columns.toSeq.map(c => col(s"__r.$c").as(c)): _*)
      case _ => ()
    }

    val sparkKind = kind match {
      case JoinKind.Inner | JoinKind.InnerUnique => "inner"
      case JoinKind.Outer => "full_outer"
      case JoinKind.Left => "left"
      case JoinKind.Right => "right"
      case _ => throw new IllegalStateException("handled above")
    }
    val joined = l.join(r, cond, sparkKind)

    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    def keyName(f: FieldPath) = if (f.isSimple) f.simpleName else f.render
    // left key name → its paired right key name (outer-join coalesce);
    // right key names whose pair shares the name get deduplicated
    val pairByLeft = keys.map { case (lk, rk) => keyName(lk) -> keyName(rk) }.toMap
    val samePairNames = keys.collect {
      case (lk, rk) if keyName(lk) == keyName(rk) => keyName(lk)
    }.toSet

    def qualL(c: String) = col(s"__l.$c")
    def qualR(c: String) = col(s"__r.$c")

    val rKeyNameSet = keys.map { case (_, rk) => keyName(rk).toLowerCase }.toSet
    val out: Seq[Column] = kind match {
      case JoinKind.Left =>
        // lookup drops the right key columns entirely (KQL lookup output)
        leftCols.map(c => qualL(c).as(c)) ++
          rightCols.filterNot(leftCols.contains)
            .filterNot(c => lookup && rKeyNameSet.contains(c.toLowerCase))
            .map(c => qualR(c).as(c))
      case JoinKind.Right =>
        rightCols.map(c => qualR(c).as(c)) ++
          leftCols.filterNot(rightCols.contains).map(c => qualL(c).as(c))
      case _ => // Inner | Outer (semi/anti returned early)
        val used = scala.collection.mutable.Set[String](leftCols: _*)
        val leftOut = leftCols.map { c =>
          if (kind == JoinKind.Outer && pairByLeft.contains(c))
            coalesce(qualL(c), qualR(pairByLeft(c))).as(c)
          else qualL(c).as(c)
        }
        val rightOut = rightCols.flatMap { c =>
          if (!leftCols.contains(c)) { used += c; Some(qualR(c).as(c)) }
          else if (samePairNames.contains(c)) None // dedup join key
          else {
            var i = 1
            while (used.contains(s"$c$i")) i += 1
            used += s"$c$i"
            Some(qualR(c).as(s"$c$i"))
          }
        }
        leftOut ++ rightOut
    }
    joined.select(out: _*)
  }

  /** Write a value back at a (possibly nested, index-free) field path. */
  private def writeBack(df: DataFrame, path: FieldPath, value: Column): DataFrame =
    if (path.isSimple) df.withColumn(path.simpleName, value)
    else df.withColumn(path.parts.head.name,
      col(path.parts.head.name)
        .withField(path.parts.tail.map(_.name).mkString("."), value))

  /** DataType of a compiled field path (compile-time schema probe). */
  private def dataTypeAt(df: DataFrame, f: FieldPath): DataType =
    df.select(compileField(df, f)).schema.head.dataType

  /** Render an entry value for object expansion: atomic values cast to
    * string, composite values as JSON (the closest static-schema shape to
    * the reference's dynamic `Value` rendering).
    */
  private def entryValueString(c: Column, dt: DataType): Column = dt match {
    case _: StructType | _: ArrayType | _: MapType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** The "expansion array" of an object (map) column, per expand kind
    * (expand.rs:103-124): bag → one-entry maps; array → flattened
    * alternating [k, v, k, v, …].
    */
  private def mapExpansion(m: Column, vt: DataType, kind: ExpandKind): Column = kind match {
    case ExpandKind.Bag => vt match {
      // composite values → JSON (aligns with structExpansion and the
      // reference's dynamic rendering); atomic values stay native-typed
      case _: StructType | _: ArrayType | _: MapType =>
        transform(map_entries(m),
          e => map(e.getField("key"), to_json(e.getField("value"))))
      case _ =>
        transform(map_entries(m), e => map(e.getField("key"), e.getField("value")))
    }
    case ExpandKind.Arr =>
      // composite map values render as JSON via entryValueString, matching
      // the struct-expansion path (a plain cast would print Spark's
      // struct-literal text instead)
      flatten(transform(map_entries(m),
        e => array(e.getField("key").cast(StringType),
          entryValueString(e.getField("value"), vt))))
  }

  /** Expansion array of a struct column — statically-shaped Objects expand
    * too (expand.rs treats any Object value alike). Entry values unify as
    * strings/JSON since a Spark map needs one value type (documented
    * deviation from the reference's dynamic values).
    */
  private def structExpansion(s: Column, st: StructType, kind: ExpandKind): Column = {
    val entries = kind match {
      case ExpandKind.Bag =>
        array(st.fields.map(fd =>
          map(lit(fd.name), entryValueString(s.getField(fd.name), fd.dataType))): _*)
      case ExpandKind.Arr =>
        flatten(array(st.fields.map(fd =>
          array(lit(fd.name), entryValueString(s.getField(fd.name), fd.dataType))): _*))
    }
    // a null struct is not expandable — null expansion, not n null entries
    when(s.isNull, lit(null)).otherwise(entries)
  }

  private def compileExpand(
      df: DataFrame, fields: Seq[FieldPath], kind: ExpandKind,
      itemIndex: Option[String] = None): DataFrame = {
    require(fields.forall(_.parts.forall(_.arrIndices.isEmpty)),
      "mv-expand of array-indexed paths not supported")
    // For each requested field, its expansion array (expand.rs:98-131):
    // arrays expand as themselves, objects per kind; anything else —
    // scalar, missing, null — is not expandable and passes through.
    // (field, expansion, isVariant): variants carry the per-ROW
    // expandability flag — their write-back keeps the original value on
    // null expansions (type-compatible only for variants, where element
    // and source types coincide)
    val expandable: Seq[(FieldPath, Column, Boolean)] = fields.flatMap { f =>
      val c = compileField(df, f)
      dataTypeAt(df, f) match {
        case _: ArrayType => Some((f, c, false))
        case mt: MapType => Some((f, mapExpansion(c, mt.valueType, kind), false))
        case st: StructType => Some((f, structExpansion(c, st, kind), false))
        // schemaless: a variant holding a JSON array expands per element;
        // a per-row non-array variant yields a null expansion and passes
        // through unchanged — the reference's per-ROW expandability on
        // dynamic data (variant OBJECT enumeration is a documented
        // narrowing: pass-through)
        case _: VariantType => Some((f, c.try_cast(ArrayType(VariantType)), true))
        case _ => None
      }
    }
    if (expandable.isEmpty) return df

    // Single-field fast path: no zip to coordinate, so posexplode_outer
    // does the whole job in one Generate — no index `sequence` array, no
    // per-output-row `get(arr, i)`. Semantics line up exactly with the
    // zip path: empty arrays emit nothing (pre-filter), a null expansion
    // passes the row through once with a null element and null index
    // (posexplode_outer emits one (null, null) row for a null array).
    if (expandable.lengthCompare(1) == 0) {
      val (f, e, isVar) = expandable.head
      val base = df.withColumn("__exp_0", e)
        .filter(size(col("__exp_0")).isNull || size(col("__exp_0")) > 0)
        .select(col("*"), posexplode_outer(col("__exp_0")).as(Seq("__i", "__e")))
      // variant null expansion = not expandable for THIS row — keep the
      // original value (non-array variants pass through unchanged)
      val elem =
        if (isVar) when(col("__exp_0").isNull, compileField(base, f))
          .otherwise(col("__e"))
        else col("__e")
      var out = writeBack(base, f, elem)
      itemIndex.foreach { name =>
        out = out.withColumn(name, col("__i").cast(LongType))
      }
      return out.drop("__i", "__e", "__exp_0")
    }

    var out = df
    val tmps = expandable.indices.map(i => s"__exp_$i").toList
    expandable.zip(tmps).foreach { case ((_, e, _), t) => out = out.withColumn(t, e) }
    // reference OutputIter zip semantics (expand.rs:38-68), per row: expand
    // to the longest non-null expansion, padding shorter (and null) fields
    // with null; a row where EVERY expansion is null passes through once;
    // a row with at least one non-null expansion, all of them empty,
    // emits nothing.
    val lens = tmps.map(t => size(col(t)))
    val maxLen = if (lens.length == 1) lens.head else greatest(lens: _*)
    out = out.withColumn("__len", maxLen)
      .filter(col("__len").isNull || col("__len") > 0)
      .withColumn("__i", explode_outer(
        when(col("__len").isNull, array(lit(0)))
          .otherwise(sequence(lit(0), col("__len") - 1))))
    expandable.zip(tmps).foreach { case ((f, _, isVar), t) =>
      val elem =
        if (isVar) when(col(t).isNull, compileField(out, f))
          .otherwise(get(col(t), col("__i")))
        else get(col(t), col("__i"))
      out = writeBack(out, f, elem)
    }
    // with_itemindex: surface the element index; a pass-through row (all
    // expansions null) carries no element, so its index is null
    itemIndex.foreach { name =>
      out = out.withColumn(name,
        when(col("__len").isNull, lit(null).cast(LongType))
          .otherwise(col("__i").cast(LongType)))
    }
    out.drop("__i" :: "__len" :: tmps: _*)
  }
}

object Compiler {
  /** Join-key cardinality bound under which cached connector stats hint a
    * broadcast (reference `dynamic_filter_max_distinct_values`, default
    * 10000 in `src/args.rs`).
    */
  val DynamicFilterMaxDistinct: Long = 10000L
}
