package graft.core

import scala.collection.mutable

/** A SQL resource plus declarations, bound once against resolved variables
  * (reference: lib/bricolage/sqlstatement.rb:6-108).
  *
  *  - header comments carry metadata: `--dest-table: x`, `--params: a b`
  *    (reference: sqlstatement.rb:253-258)
  *  - `kind` sniffs the first keyword (reference: sqlstatement.rb:67-75)
  *  - bind = `$var` expansion of the whole source (reference: :46-53; ERB
  *    preprocessing is replaced by the EmbeddedFunctions registry)
  *  - multi-statement scripts split on top-level `;` respecting quotes and
  *    comments (psql ran whole files; we run each statement via spark.sql)
  */
final class SqlStatement(val source: String, val declarations: Seq[String] = Nil) {

  private var bound: Option[String] = None

  def bind(vars: Variables, erb: ErbContext = ErbContext.empty): SqlStatement = {
    val expanded = vars.expand(EmbeddedFunctions.preprocess(source, erb))
    val s = new SqlStatement(source, declarations)
    s.bound = Some(expanded)
    s
  }

  def isBound: Boolean = bound.isDefined

  def stripped: String =
    SqlStatement.stripMetadataComments(bound.getOrElse(
      throw new FatalError("SQL statement not bound")))

  /** All executable statements (top-level `;`-split, comments removed from
    * the splitting logic but preserved in statement bodies).
    */
  def statements: Seq[String] = SqlStatement.splitStatements(stripped)

  /** First keyword of the first statement, lower-cased; leading comments
    * are skipped (reference: sqlstatement.rb:67-75 strips comments before
    * sniffing).
    */
  def kind: String =
    statements.headOption.map(SqlStatement.firstKeyword).getOrElse("")

  /** Metadata from header comments of the raw source. */
  lazy val metadata: Map[String, String] = SqlStatement.parseMetadata(source)

  def destTable: Option[TableSpec] = metadata.get("dest-table").map(TableSpec.parse)
  def srcTables: Seq[TableSpec] =
    metadata.get("src-tables").toSeq.flatMap(_.split("[,\\s]+")).filter(_.nonEmpty)
      .map(TableSpec.parse)

  /** Referenced `$vars` in the source (used for auto-declaration —
    * reference: lib/bricolage/jobfile.rb:48-78).
    */
  def referencedVariables: Seq[String] = Variables.listVariables(source)

  /** Regex rewrite of the bound statement (reference: sqlstatement.rb:99-103,
    * used by rebuild-rename to retarget `$dest_table`).
    */
  def replace(pattern: String, replacement: String): SqlStatement = {
    val s = new SqlStatement(source.replaceAll(pattern, replacement), declarations)
    s.bound = bound.map(_.replaceAll(pattern, replacement))
    s
  }
}

object SqlStatement {

  private val MetadataLine = """^--([a-zA-Z][-\w]*):\s*(.*)$""".r

  /** `--key: value` header comments (reference: sqlstatement.rb:253-258). */
  def parseMetadata(source: String): Map[String, String] =
    source.linesIterator.takeWhile(l => l.startsWith("--") || l.trim.isEmpty)
      .collect { case MetadataLine(k, v) => k -> v.trim }
      .toMap

  /** First keyword of a statement, lower-cased, skipping leading line and
    * block comments — `-- note\ncreate view ...` sniffs as `create`.
    */
  def firstKeyword(stmt: String): String = {
    var s = stmt
    var changed = true
    while (changed) {
      val t = s.dropWhile(_.isWhitespace)
      val stripped =
        if (t.startsWith("--")) t.dropWhile(_ != '\n')
        else if (t.startsWith("/*")) {
          val end = t.indexOf("*/")
          if (end < 0) "" else t.substring(end + 2)
        } else t
      changed = stripped != s
      s = stripped
    }
    s.split("\\s+", 2).headOption.filter(_.nonEmpty).map(_.toLowerCase).getOrElse("")
  }

  private val DropIfExistsRe =
    """(?is)\s*drop\s+table\s+if\s+exists\s+([A-Za-z0-9_.`]+)\s*;?\s*""".r

  /** Match a bare `DROP TABLE IF EXISTS <name>` statement (after comment
    * stripping) and return the table name — the execScript hook that
    * routes such drops through `dropForce` for orphan-location cleanup.
    * A plain `DROP TABLE` (no IF EXISTS) is NOT matched: its reference
    * semantics are "fail when absent", which orphan cleanup would mask.
    */
  def dropIfExistsTable(stmt: String): Option[String] = {
    // reuse firstKeyword's comment stripping by matching on the raw text:
    // the regex tolerates leading whitespace; strip comments first
    var s = stmt
    var changed = true
    while (changed) {
      val t = s.dropWhile(_.isWhitespace)
      val stripped =
        if (t.startsWith("--")) t.dropWhile(_ != '\n')
        else if (t.startsWith("/*")) {
          val end = t.indexOf("*/")
          if (end < 0) "" else t.substring(end + 2)
        } else t
      changed = stripped != s
      s = stripped
    }
    s match {
      case DropIfExistsRe(tbl) => Some(tbl.replace("`", ""))
      case _                   => None
    }
  }

  /** Drop metadata header comment lines, keep the SQL body. */
  def stripMetadataComments(sql: String): String = {
    val lines = sql.linesIterator.toVector
    val headerLen = lines.takeWhile(l => MetadataLine.matches(l.trim) || l.trim.isEmpty).length
    lines.drop(headerLen).mkString("\n").trim
  }

  /** Split on top-level `;`: quotes ('', "", and $$-less; no nesting),
    * line comments (`--`), and block comments are respected.
    */
  def splitStatements(sql: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var state: Char = 'n' // n normal, q single-quote, Q double-quote, c line comment, C block comment
    while (i < sql.length) {
      val ch = sql.charAt(i)
      val next = if (i + 1 < sql.length) sql.charAt(i + 1) else '\u0000'
      state match {
        case 'n' =>
          if (ch == '\'') { state = 'q'; cur += ch }
          else if (ch == '"') { state = 'Q'; cur += ch }
          else if (ch == '-' && next == '-') { state = 'c'; cur += ch }
          else if (ch == '/' && next == '*') { state = 'C'; cur += ch }
          else if (ch == ';') { out += cur.toString; cur.clear() }
          else cur += ch
        case 'q' =>
          cur += ch
          if (ch == '\'' && next == '\'') { cur += next; i += 1 }
          else if (ch == '\'') state = 'n'
        case 'Q' =>
          cur += ch
          if (ch == '"') state = 'n'
        case 'c' =>
          cur += ch
          if (ch == '\n') state = 'n'
        case 'C' =>
          cur += ch
          if (ch == '*' && next == '/') { cur += next; i += 1; state = 'n' }
      }
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}

/** Evaluation context for embedded expressions (reference: the ERB binding
  * carries `app_home` / `base_dir` — embeddedcodeapi.rb:16-22, context.rb).
  */
final case class ErbContext(appHome: Option[java.nio.file.Path] = None,
    baseDir: Option[java.nio.file.Path] = None)

object ErbContext {
  val empty: ErbContext = ErbContext()
}

/** Replacement for the reference's ERB preprocessing
  * (reference: lib/bricolage/embeddedcodeapi.rb:5-48 + vacuumlock.rb:23-42):
  * an evaluator for the `<%= expr %>` surface the reference's own fixtures
  * and API expose —
  *
  *  - `Date.today`, `(Date.today ± N)`, with optional `.strftime('FMT')`
  *    (test/home/subsys/variable.yml:1), plus the short `today ± N` form
  *  - `date('STR')` / `ymd(expr)` (embeddedcodeapi.rb:29-35)
  *  - `read_file_if_exist('PATH')` → file body or "" (:24-27)
  *  - `user_home` / `*_relative_path('REL')` path helpers (:8-22)
  *  - `all_tables` / `attribute_tables('ATTR')` → dest-table names scanned
  *    from the `.ct` headers under each `app_home` subsystem dir (:37-45);
  *    rendered one per line
  *  - `psql_serialize_vacuum_begin/_end` → `;` (vacuum lock disabled — the
  *    reference's own default, vacuumlock.rb:23-42) and lockfile shims
  *  - `ENV['X']` with optional `|| "default"` (schema/database.yml:2-6)
  *
  * Anything outside this surface raises JobError (documented non-goal:
  * arbitrary embedded code).
  */
object EmbeddedFunctions {
  import java.nio.file.{Files, Path, Paths}
  import java.time.LocalDate

  private val Erb = """<%=\s*(.*?)\s*%>""".r
  private val TodayArith = """today\s*([+-])\s*(\d+)""".r
  private val DateToday =
    """\(?\s*Date\.today\s*(?:([+-])\s*(\d+))?\s*\)?(?:\.strftime\('([^']*)'\))?""".r
  private val DateParse = """date\('([^']+)'\)(?:\.strftime\('([^']*)'\))?""".r
  private val Ymd = """ymd\((.+)\)""".r
  private val ReadFile = """read_file_if_exist\('([^']+)'\)""".r
  private val RelPath = """(user_home_relative_path|app_home_relative_path|relative_path)\('([^']+)'\)""".r
  private val EnvRef = """ENV\['(\w+)'\](?:\s*\|\|\s*"([^"]*)")?""".r
  private val AttrTables = """attribute_tables\('([^']+)'\)""".r

  def preprocess(source: String, erb: ErbContext = ErbContext.empty): String =
    Erb.replaceAllIn(source, m => scala.util.matching.Regex.quoteReplacement(
      eval(m.group(1), erb)))

  def eval(code: String, erb: ErbContext = ErbContext.empty): String = code.trim match {
    case "today" | "today()" => LocalDate.now().toString
    case TodayArith(op, n) => shiftToday(op, n).toString
    case DateToday(op, n, fmt) =>
      strftime(shiftToday(op, n), Option(fmt))
    case DateParse(s, fmt) => strftime(LocalDate.parse(s), Option(fmt))
    case Ymd(inner) => strftime(evalDate(inner.trim, erb), None)
    case ReadFile(p) =>
      val path = resolve(p, erb)
      if (Files.exists(path)) Files.readString(path) else ""
    case "user_home" => sys.props("user.home")
    case RelPath(fn, rel) =>
      val base = fn match {
        case "user_home_relative_path" => Paths.get(sys.props("user.home"))
        case "app_home_relative_path" =>
          erb.appHome.getOrElse(throw new JobError("no app home in ERB context"))
        case _ =>
          erb.baseDir.orElse(erb.appHome)
            .getOrElse(throw new JobError("no base dir in ERB context"))
      }
      base.resolve(rel).toString
    case "all_tables" => ctTables(erb).map(_._1).mkString("\n")
    case AttrTables(attr) =>
      ctTables(erb).collect { case (t, attrs) if attrs.contains(attr) => t }
        .mkString("\n")
    case "psql_serialize_vacuum_begin" | "psql_serialize_vacuum_end" => ";"
    case "create_lockfile" | "release_lockfile" => "" // vacuum-lock shims: no-op
    case EnvRef(name, default) =>
      sys.env.get(name).orElse(Option(default)).getOrElse(
        throw new JobError(s"undefined environment variable in ERB: $name"))
    case other =>
      throw new JobError(s"unsupported embedded expression: <%= $other %>")
  }

  private def shiftToday(op: String, n: String): LocalDate = {
    val today = LocalDate.now()
    if (op == null || n == null) today
    else if (op == "+") today.plusDays(n.toLong)
    else today.minusDays(n.toLong)
  }

  private def evalDate(code: String, erb: ErbContext): LocalDate = code match {
    case DateToday(op, n, null) => shiftToday(op, n)
    case DateParse(s, null) => LocalDate.parse(s)
    case other => LocalDate.parse(eval(other, erb))
  }

  /** `%Y-%m-%d`-style strftime → java DateTimeFormatter (subset: the date
    * directives a daily-batch template uses). None → ISO yyyy-MM-dd.
    */
  private def strftime(d: LocalDate, fmt: Option[String]): String = fmt match {
    case None | Some("%F") | Some("%Y-%m-%d") => d.toString
    case Some(f) =>
      val out = new StringBuilder
      var i = 0
      while (i < f.length) {
        val ch = f.charAt(i)
        if (ch == '%' && i + 1 < f.length) {
          f.charAt(i + 1) match {
            case 'Y' => out ++= f"${d.getYear}%04d"
            case 'y' => out ++= f"${d.getYear % 100}%02d"
            case 'm' => out ++= f"${d.getMonthValue}%02d"
            case 'd' => out ++= f"${d.getDayOfMonth}%02d"
            case 'j' => out ++= f"${d.getDayOfYear}%03d"
            case 'F' => out ++= d.toString
            case '%' => out += '%'
            case c => throw new JobError(s"unsupported strftime directive: %$c")
          }
          i += 2
        } else { out += ch; i += 1 }
      }
      out.toString
  }

  private def resolve(p: String, erb: ErbContext): Path = {
    val raw = Paths.get(p)
    if (raw.isAbsolute) raw
    else erb.baseDir.orElse(erb.appHome).map(_.resolve(p)).getOrElse(raw)
  }

  /** Scan the `.ct` headers under every app-home subsystem dir for
    * dest-table + attributes (reference: embeddedcodeapi.rb:41-45 —
    * a two-level glob of `.ct` files below `app_home`).
    */
  /** List a directory's entries, CLOSING the stream (Files.list holds a
    * file handle until closed).
    */
  private def listDir(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    } finally s.close()
  }

  private def ctTables(erb: ErbContext): Seq[(String, Set[String])] = {
    val home = erb.appHome.getOrElse(
      throw new JobError("all_tables requires an app home in ERB context"))
    if (!Files.isDirectory(home)) return Nil
    listDir(home).filter(Files.isDirectory(_)).flatMap { d =>
      listDir(d)
        .filter(_.getFileName.toString.endsWith(".ct"))
        .sortBy(_.getFileName.toString)
        .map { ct =>
          val meta = SqlStatement.parseMetadata(Files.readString(ct))
          val table = meta.getOrElse("dest-table",
            ct.getFileName.toString.stripSuffix(".ct"))
          val attrs = meta.get("attributes").toSet[String]
            .flatMap(_.split("[,\\s]+")).filter(_.nonEmpty)
          (table, attrs)
        }
    }.sortBy(_._1)
  }
}
