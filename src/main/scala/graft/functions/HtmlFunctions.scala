package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import graft.kernel._

/** Column-level surface over the per-document kernel.
  *
  * These are deliberately Scala UDFs wrapping the kernel: HTML parsing is a
  * black-box per-row computation (no Catalyst expression could fold it), so
  * the UDF boundary costs only the row codec, not lost optimization. Entity
  * decode is a scalar string op that CAN stay inside codegen, so it exists
  * only as the native Catalyst expression `html_unescape_native`
  * (graft.functions.HtmlUnescape, registered by GraftExtensions).
  *
  * Selectors are compiled once per executor (cache keyed by selector string)
  * — the analog of the reference compiling a Matcher once per query
  * (/root/reference/src/index.ts:408).
  */
object HtmlFunctions extends Serializable {

  @transient private lazy val selectorCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[SelectorPart]]]()

  /** Compile a comma-union selector once per executor (the analog of the
    * reference compiling a Matcher once per query) — without this every UDF
    * row would recompile its selector string.
    */
  private def compiled(sel: String): Array[Array[SelectorPart]] = {
    var p = selectorCache.get(sel)
    if (p == null) {
      p = Query.compileUnion(sel)
      selectorCache.putIfAbsent(sel, p)
    }
    p
  }

  // ---- scalar kernel ops ----

  val htmlValid = udf { (html: String) =>
    if (html == null) false else HtmlParser.parse(html).valid
  }

  val htmlText = udf { (html: String) =>
    if (html == null) null else HtmlParser.parse(html).structuredText
  }

  val htmlOuter = udf { (html: String) =>
    if (html == null) null else HtmlParser.parse(html).toHtml
  }

  /** Shared kernel entry for the UDF and the native HtmlCssCount expression. */
  private[functions] def cssCountKernel(html: String, selector: String): Int =
    if (html == null) 0
    else Query.querySelectorAll(HtmlParser.parse(html), compiled(selector)).length

  val cssCount = udf { (html: String, selector: String) => cssCountKernel(html, selector) }

  /** querySelector (first match, comma parts left-to-right) decoded text. */
  val cssFirstText = udf { (html: String, selector: String) =>
    if (html == null) null
    else Query.querySelector(HtmlParser.parse(html), compiled(selector)).map(_.text).orNull
  }

  /** Attribute of the first match, decoded. */
  val cssFirstAttr = udf { (html: String, selector: String, attr: String) =>
    if (html == null) null
    else
      Query.querySelector(HtmlParser.parse(html), compiled(selector))
        .flatMap(e => Option(e.attributes.get(attr))).orNull
  }

  /** removeWhitespace + setAttribute + serialize — the mutation pipeline as
    * one column op (used by the mutation oracle query).
    */
  val mutateDemo = udf { (html: String, key: String, value: String) =>
    if (html == null) null
    else {
      val root = HtmlParser.parse(html)
      root.removeWhitespace()
      root.children.headOption.foreach(_.setAttribute(key, value))
      root.toHtml
    }
  }

  /** Boilerplate-stripped main-content extraction (kernel heuristics —
    * graft.kernel.Boilerplate): one parse per row, returns
    * struct(main_text, n_stripped).
    */
  val mainContent = udf { (html: String) =>
    if (html == null) null else Boilerplate.mainContent(html)
  }

  /** Register everything for the pure-SQL surface. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("html_valid", htmlValid)
    spark.udf.register("html_text", htmlText)
    spark.udf.register("html_outer", htmlOuter)
    spark.udf.register("css_count", cssCount)
    spark.udf.register("css_first_text", cssFirstText)
    spark.udf.register("css_first_attr", cssFirstAttr)
    spark.udf.register("main_content", mainContent)
  }
}
