package graft.api

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, ExpressionInfo, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, Decimal, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftExtensions.TableFunctionDef

/** The one argument binder of graft's SQL surface — the analogue of the
  * reference's Bind phase, where each function declares its signature as
  * data (`TableFunction func("SUDAN_WorldBank", {VARCHAR}, …)` plus
  * `named_parameters`, wb_functions.cpp:314-316).
  *
  * A function declares an ordered [[Param]] list: a name, a [[Kind]], a
  * default (or none: required), an optional bound, and a named-only flag.
  * [[bind]] matches positional and `name => value` arguments (Spark's
  * spelling of DuckDB's `name := value`), coerces each literal to its
  * kind, fills defaults and checks bounds, all at analysis time. Every
  * failure is an `IllegalArgumentException` reading
  * `SUDAN: <fn>() …`, like DuckDB's binder errors. Table functions
  * ([[Tvf]]) and the literal arguments of the native scalar functions
  * ([[graft.functions.GraftExtensions]]) both bind here. */
private[graft] object Binder {

  sealed trait Kind
  object Kind {
    /** A string literal. */
    case object Str extends Kind
    /** `array('SDN','EGY')` (DuckDB's `['SDN','EGY']`), or one
      * comma-joined string. */
    case object StrList extends Kind
    /** An integral numeric literal, bound as a `Long`. */
    case object Integer extends Kind
    /** Any numeric literal (`0.8` parses as a DECIMAL), bound as a
      * `Double`. */
    case object Dbl extends Kind
    /** `array(0.7, 0.3)`. */
    case object DblList extends Kind
    /** A scalar function's input column: any expression, unbound. */
    case object Column extends Kind
  }

  /** One declared parameter. `default = None` means required; `lo`/`hi`
    * bound a numeric value (`loOpen` makes the lower bound exclusive). */
  final case class Param(name: String, kind: Kind, default: Option[Any] = None,
      lo: Option[Double] = None, loOpen: Boolean = false,
      hi: Option[Double] = None, namedOnly: Boolean = false) {
    def atLeast(v: Double): Param = copy(lo = Some(v))
    def above(v: Double): Param = copy(lo = Some(v), loOpen = true)
    def atMost(v: Double): Param = copy(hi = Some(v))
    /** Reachable only as `name => value`, never positionally. */
    def named: Param = copy(namedOnly = true)
  }

  def str(name: String): Param = Param(name, Kind.Str)
  def str(name: String, default: String): Param =
    Param(name, Kind.Str, Some(default))
  def strs(name: String): Param = Param(name, Kind.StrList)
  def strs(name: String, default: Seq[String]): Param =
    Param(name, Kind.StrList, Some(default))
  def int(name: String): Param = Param(name, Kind.Integer)
  def int(name: String, default: Long): Param =
    Param(name, Kind.Integer, Some(default))
  def dbl(name: String, default: Double): Param =
    Param(name, Kind.Dbl, Some(default))
  def dbls(name: String): Param = Param(name, Kind.DblList)
  def column(name: String): Param = Param(name, Kind.Column)
  /** The corpus directory every pipeline table function takes first. */
  val dir: Param = str("dir")

  /** The bound arguments of one call, typed by their declared kind. */
  final class Args private[Binder] (val fn: String, values: Map[String, Any]) {
    def spark: SparkSession = SparkSession.active
    def dir: String = str("dir")
    def str(k: String): String = values(k).asInstanceOf[String]
    def strs(k: String): Seq[String] = values(k).asInstanceOf[Seq[String]]
    def long(k: String): Long = values(k).asInstanceOf[Long]
    def int(k: String): Int = {
      val v = long(k)
      check(v.isValidInt, s"parameter '$k' must fit in 32 bits, got $v.")
      v.toInt
    }
    def dbl(k: String): Double = values(k).asInstanceOf[Double]
    def dbls(k: String): Seq[Double] = values(k).asInstanceOf[Seq[Double]]
    def expr(k: String): Expression = values(k).asInstanceOf[Expression]
    /** A cross-parameter rule, failing with the binder's error. */
    def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(fn, msg)
  }

  /** A SQL table function as one row: catalog docs, the declared
    * parameters, and the builder from bound values to the operator's own
    * DataFrame, whose logical plan the call returns. */
  final case class Tvf(name: String, usage: String, example: String,
      params: Param*)(build: Args => DataFrame) {
    def definition: TableFunctionDef = (FunctionIdentifier(name),
      info(Binder.getClass.getName, name, usage, s"      > $example"),
      args => build(bind(name, params, args)).queryExecution.logical)
  }

  def info(cls: String, name: String, usage: String, examples: String) =
    new ExpressionInfo(cls, null, name, usage,
      s"\n    Examples:\n$examples\n  ")

  private def fail(fn: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"SUDAN: $fn() $msg")

  private def key(s: String): String = s.toLowerCase(Locale.ROOT)

  /** Bind call-site arguments to `params`: leading positional arguments
    * fill the non-named-only parameters in order; `name => value` may fill
    * any parameter. Duplicate, unknown, excess and missing arguments,
    * malformed literals and out-of-bound values fail here. */
  def bind(fn: String, params: Seq[Param], args: Seq[Expression]): Args = {
    val byName = params.map(p => key(p.name) -> p).toMap
    val positional = params.filterNot(_.namedOnly)
    var given = Map.empty[String, Expression]
    var sawNamed = false
    args.foreach {
      case NamedArgumentExpression(k, value) =>
        sawNamed = true
        val p = byName.getOrElse(key(k), fail(fn, s"has no parameter '$k' " +
          s"(expected: ${params.map(_.name).sorted.mkString(", ")})."))
        if (given.contains(p.name)) fail(fn, s"got parameter '$k' more than once.")
        given += p.name -> value
      case e =>
        if (sawNamed) fail(fn, "positional arguments must precede named arguments.")
        if (given.size >= positional.length) fail(fn,
          s"takes at most ${positional.length} positional argument(s).")
        given += positional(given.size).name -> e
    }
    new Args(fn, params.map { p =>
      p.name -> given.get(p.name).map(coerce(fn, p, _)).orElse(p.default)
        .getOrElse(fail(fn, s"requires the " +
          s"${if (p.name == "dir") "corpus " else ""}'${p.name}' parameter."))
    }.toMap)
  }

  private def coerce(fn: String, p: Param, e: Expression): Any = {
    def bad(what: String, got: Any): Nothing =
      fail(fn, s"parameter '${p.name}' must be $what, got $got.")
    def literal(what: String): Any = {
      if (!e.foldable) bad(what, e.sql)
      Option(e.eval(null)).getOrElse(
        fail(fn, s"parameter '${p.name}' must not be NULL."))
    }
    def number(v: Any): Double = v match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => bad("a numeric literal", other)
    }
    def element(k: Kind)(x: Expression) = coerce(fn, p.copy(kind = k), x)
    p.kind match {
      case Kind.Column => e
      case Kind.Str if e.dataType == StringType =>
        literal("a string literal").toString
      case Kind.Str => bad("a string literal", e.sql)
      case Kind.StrList => e match {
        case CreateArray(items, _) => items.map(element(Kind.Str))
        case _ => (e.dataType, literal("an array of strings")) match {
          case (ArrayType(StringType, _), arr: ArrayData) =>
            arr.toArray[UTF8String](StringType).toIndexedSeq.map(s =>
              Option(s).getOrElse(
                fail(fn, s"parameter '${p.name}' must not be NULL.")).toString)
          case (StringType, s: UTF8String) =>
            s.toString.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
          case _ => bad("an array of strings", e.sql)
        }
      }
      case Kind.DblList => e match {
        case CreateArray(items, _) => items.map(element(Kind.Dbl))
        case _ => bad("an array of numeric literals", e.sql)
      }
      case Kind.Integer =>
        val v = literal("an integer literal") match {
          case n @ (_: java.lang.Long | _: java.lang.Integer |
              _: java.lang.Short | _: java.lang.Byte) =>
            n.asInstanceOf[Number].longValue()
          case other =>
            val d = number(other)
            if (!d.isWhole || math.abs(d) > 9.0e18) bad("an integer literal", other)
            d.toLong
        }
        inBounds(fn, p, v.toDouble, v)
      case Kind.Dbl =>
        val d = number(literal("a numeric literal"))
        inBounds(fn, p, d, d)
    }
  }

  private def inBounds(fn: String, p: Param, d: Double, v: Any): Any = {
    def fmt(b: Double) = if (b.isWhole) b.toLong.toString else b.toString
    val ok = p.lo.forall(l => if (p.loOpen) d > l else d >= l) &&
      p.hi.forall(d <= _)
    if (!ok) fail(fn, s"parameter '${p.name}' must be " + ((p.lo, p.hi) match {
      case (Some(l), None) => s"${if (p.loOpen) ">" else ">="} ${fmt(l)}"
      case (Some(l), Some(h)) =>
        s"in ${if (p.loOpen) "(" else "["}${fmt(l)}, ${fmt(h)}]"
      case _ => s"<= ${fmt(p.hi.get)}"
    }) + s", got $v.")
    v
  }
}
