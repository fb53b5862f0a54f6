package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, ExpressionInfo, If, Literal, Lower, RegExpExtract, RegExpReplace}
import org.apache.spark.sql.types.IntegerType

/**
 * SQL surface for the native kernels: register with
 * `spark.sql.extensions=graft.plans.GraftExtensions` (cluster config)
 * or `SparkSession.builder().withExtensions(new GraftExtensions)`, or
 * call [[GraftExtensions.register]] on a live session (notebooks,
 * tests — `withExtensions` is silently ignored by `getOrCreate` when a
 * session already exists).
 *
 * Functions: every [[Kernel]] row that carries a SQL name (its usage
 * string is the function's `DESCRIBE FUNCTION` text; every trailing
 * integer argument must be a literal int — the kernels specialize on
 * it), plus two compositions of built-ins:
 *  - `graft_normalize_url(url)      -> string` — canonical crawl-dedup key
 *  - `graft_url_domain(url)         -> string` — registered-domain heuristic
 *    of an already-canonical URL
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.injections.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def arity(name: String, n: Int)(ch: Seq[Expression]): Seq[Expression] = {
    require(ch.length == n, s"$name expects $n argument(s), got ${ch.length}")
    ch
  }

  /** n-gram width must be plan-time constant: the kernel specializes on
    * it, and a per-row width would defeat codegen. */
  private def litInt(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: n must be a literal int, got $other")
  }

  /** `name(columns…, ints…)` of a kernel row: arity, then each int
    * literal (and positive when the row says so), then the row's call. */
  private def kernelBuilder(k: Kernel, sql: Sql)(ch: Seq[Expression]): Expression = {
    val cols = k.inputTypes.length
    arity(sql.name, cols + sql.ints)(ch)
    val ints = ch.drop(cols).map(litInt(sql.name, _))
    require(sql.positive.isEmpty || ints.forall(_ > 0),
      s"${sql.name}: ${sql.positive} must be positive")
    k.expr(ch.take(cols), sql.consts(ints))
  }

  private val injections: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Kernel.all.flatMap(k => k.sql.map(sql =>
      (sql.name, info(sql.name, k.usage), kernelBuilder(k, sql) _))) ++ Seq(
    // the URL family is composed of codegen BUILT-INS (lower +
    // regexp_replace/extract): the builders fold the same shared
    // pattern tables ([[graft.ext.Dedup.UrlNormSteps]] etc.) the Scala
    // Column API folds, in raw catalyst terms (a Column-API round-trip
    // here would hand the registry an unresolved v2 function node)
    ("graft_normalize_url",
      info("graft_normalize_url",
        "graft_normalize_url(url) - canonical crawl-dedup URL key " +
          "(lowercase; strip query/fragment, scheme, www., default port, " +
          "trailing slash)"),
      ch => urlNormExpr(arity("graft_normalize_url", 1)(ch).head)),
    ("graft_url_domain",
      info("graft_url_domain",
        "graft_url_domain(url_norm) - last-two-labels registered-domain " +
          "heuristic of a canonical URL"),
      ch => urlDomainExpr(arity("graft_url_domain", 1)(ch).head)))

  private def urlNormExpr(ch: Expression): Expression =
    graft.ext.Dedup.UrlNormSteps.foldLeft[Expression](Lower(ch)) {
      case (e, (pat, rep)) => RegExpReplace(e, Literal(pat), Literal(rep))
    }

  private def urlDomainExpr(ch: Expression): Expression = {
    val host = RegExpReplace(
      RegExpExtract(ch, Literal(graft.ext.Dedup.UrlHostPattern), Literal(0)),
      Literal(graft.ext.Dedup.UrlPortStrip), Literal(""))
    val dom = RegExpExtract(host,
      Literal(graft.ext.Dedup.UrlDomainPattern), Literal(1))
    // regexp_extract yields "" on miss, so this IS coalesce(nullif(dom,
    // ''), host) — the Column formulation's miss handling
    If(EqualTo(dom, Literal("")), host, dom)
  }

  /** Register the functions on an already-running session. */
  def register(spark: SparkSession): Unit =
    injections.foreach { case (name, fnInfo, builder) =>
      org.apache.spark.sql.graft.RegistryBridge.register(spark,
        FunctionIdentifier(name), fnInfo, builder)
    }
}
