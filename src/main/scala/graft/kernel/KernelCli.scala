package graft.kernel

/** Tiny CLI surface over the kernel for manual verification (throughput
  * lives in perfbench's kernel layer):
  *
  *   runMain graft.kernel.KernelCli parse <file> [selector]
  *   runMain graft.kernel.KernelCli text  <file>
  *   runMain graft.kernel.KernelCli main  <file>   # boilerplate-stripped
  */
object KernelCli {
  def main(args: Array[String]): Unit = {
    val html = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(1))),
      java.nio.charset.StandardCharsets.UTF_8)
    args(0) match {
      case "parse" =>
        val root = HtmlParser.parse(html)
        println(s"valid=${root.valid}")
        println(s"serializedLen=${root.toHtml.length}")
        println(s"structuredTextLen=${root.structuredText.length}")
        if (args.length > 2) {
          val hits = root.querySelectorAll(args(2))
          println(s"selector '${args(2)}' matches=${hits.length}")
          hits.take(5).foreach(e =>
            println(s"  <${e.tagName}> id='${e.id}' classes='${e.classNames.mkString(" ")}'"))
        }
      case "text" =>
        println(HtmlParser.parse(html).structuredText)
      case "main" =>
        val r = Boilerplate.mainContent(html)
        println(s"--- stripped ${r.n_stripped} boilerplate subtrees ---")
        println(r.main_text)
      case other => sys.error(s"unknown op $other")
    }
  }
}
