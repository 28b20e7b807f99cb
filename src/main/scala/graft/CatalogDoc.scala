package graft

/** Regenerates CATALOG.md — the human-readable index of every catalog
  * query — straight from [[QueryCatalog.families]], one section per
  * family, so the document can never drift from the code. Run after
  * adding queries:
  * {{{ sbt "runMain graft.CatalogDoc" }}} */
object CatalogDoc {

  def render(): String = {
    val sb = new StringBuilder
    sb.append("# Query catalog index\n\n")
    sb.append("GENERATED FILE — do not edit by hand; regenerate with\n")
    sb.append("`sbt \"runMain graft.CatalogDoc\"` after catalog changes.\n\n")
    val total = QueryCatalog.all.size
    val gated = QueryCatalog.all.count(_.oracle.isDefined)
    sb.append(s"**$total queries** — $gated DuckDB-oracle-gated " +
      s"(rows+schema+hash), ${total - gated} rows-only by declared design " +
      "(engine-specific hash / approximate / sequential-merge / sketch), " +
      "each pinned by a named parity/recall/property spec " +
      "(see QueryCatalogSpec's rows-only allowlist).\n")
    QueryCatalog.families.foreach { case (file, defs) =>
      sb.append(s"\n## src/main/scala/graft/$file (${defs.size} queries)\n\n")
      sb.append("| query | gate | what it does |\n|---|---|---|\n")
      defs.foreach { q =>
        val gate = if (q.oracle.isDefined) "oracle" else "rows-only"
        val note = q.notes.replace("|", "\\|")
        sb.append(s"| ${q.name} | $gate | $note |\n")
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "CATALOG.md"
    val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
    try w.print(render()) finally w.close()
    println(s"CATALOG_DOC_OK wrote $out (${QueryCatalog.all.size} queries)")
  }
}
