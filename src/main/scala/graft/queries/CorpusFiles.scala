package graft.queries

import java.nio.file.{Files, Path, Paths}

/** Where one suite of the verbatim reference query files lives: the
  * directory named by `envVar`, else the suite's folder under the
  * default reference root. Every corpus reader (the registry's
  * `corpus_*` entries, and through them Explain and the specs)
  * resolves through here, so a missing corpus fails with one message
  * that names the path and both corpus variables.
  */
final case class CorpusFiles(suite: String, envVar: String) {

  private def root: Path =
    Paths.get(sys.env.getOrElse(envVar, s"${CorpusFiles.DefaultRoot}/$suite"))

  /** The suite's directory; throws unless it holds a `.sql` file. */
  def dir: String = {
    val p = root
    val found = Files.isDirectory(p) && {
      val stream = Files.list(p)
      try stream.anyMatch(_.getFileName.toString.endsWith(".sql"))
      finally stream.close()
    }
    if (!found) throw CorpusFiles.missing(p)
    p.toString
  }

  /** The text of query file `<name>.sql`. */
  def read(name: String): String = {
    val p = root.resolve(s"$name.sql")
    if (!Files.isRegularFile(p)) throw CorpusFiles.missing(p)
    Files.readString(p)
  }
}

object CorpusFiles {
  private val DefaultRoot = "/root/reference/queries"

  val tpch: CorpusFiles = CorpusFiles("tpch", "GRAFT_TPCH_CORPUS_DIR")
  val tpcds: CorpusFiles = CorpusFiles("tpcds", "GRAFT_TPCDS_CORPUS_DIR")

  private def missing(p: Path): IllegalStateException =
    new IllegalStateException(
      s"reference query corpus missing: $p not found. Point " +
        s"${tpch.envVar} and ${tpcds.envVar} at the directories that " +
        "hold the verbatim reference .sql files.")
}
