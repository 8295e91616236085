package graft.functions

import java.net.{URI, URISyntaxException}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ksql-faithful `URL_EXTRACT_PARAMETER(url, name)` (ksqlDB 0.28,
  * reference docker-compose.yml:83).
  *
  * ksql's UDF reads `java.net.URI.getQuery()` — which percent-DECODES
  * the query as a whole while leaving `+` untouched — and only THEN
  * splits on `&` / `=`. The previous mapping,
  * `url_decode(parse_url(url, 'QUERY', name))`, diverges on two edges:
  *
  *  - a literal `+` in a value stays `+` under ksql, but
  *    `java.net.URLDecoder` (Spark's `url_decode`) turns it into a
  *    space;
  *  - percent-encoded separators inside a value (`%26` = `&`,
  *    `%3D` = `=`) are split-AFTER-decode under ksql — the decoded
  *    `&`/`=` take part in the split — whereas decode-after-split
  *    keeps them inside the value.
  *
  * This expression reproduces the decode-then-split pipeline exactly:
  * `?a=1%262` yields `1` for `a` (the decoded `&` splits), and
  * `?t=a+b` yields `a+b` verbatim. Pair handling mirrors ksql's UDF:
  * each `&`-pair is split on EVERY `=` (trailing empty
  * parts kept), and only pairs whose split yields exactly TWO parts
  * participate — a valueless parameter (`?a`) or a value containing a
  * decoded `=` (`?a=b=c`, three parts) is SKIPPED and the scan
  * continues to later pairs, so `?a=b%3Dc&a=x` yields `x` and
  * `?a=b%3Dc` alone yields NULL. `?a=` splits to (`a`, ``) — two
  * parts — and yields the empty string. Malformed URLs
  * (URISyntaxException) and URLs without a query yield NULL, as does
  * an absent parameter.
  */
case class UrlExtractParameterKsql(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType | NullType, StringType | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"url_extract_parameter expects (string, string), got $other")
    }

  override def nullSafeEval(u: Any, p: Any): Any = {
    val param = p.asInstanceOf[UTF8String].toString
    val query =
      try new URI(u.asInstanceOf[UTF8String].toString).getQuery
      catch { case _: URISyntaxException => null }
    if (query == null) null
    else {
      // First arity-2 matching pair wins (ksql's findFirst over pairs
      // filtered to exactly two '='-split parts); other pairs — even
      // ones whose name matches — are skipped and the scan continues.
      val it = query.split("&").iterator
      var res: Any = null
      var found = false
      while (it.hasNext && !found) {
        val parts = it.next().split("=", -1) // keep trailing empties
        if (parts.length == 2 && parts(0) == param) {
          found = true
          res = UTF8String.fromString(parts(1))
        }
      }
      res
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlExtractParameterKsql =
    copy(left = newLeft, right = newRight)
}
