package graft.core

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** Job-file loading (reference: lib/bricolage/jobfile.rb).
  *
  * Formats:
  *  - `.job`: plain YAML, `class:` selects the job class (:8-19,105-110)
  *  - `.sql.job`: SQL file with YAML embedded in the leading block
  *    comment; the SQL body becomes the `sql-file` param (:25-41);
  *    `class:` defaults to `sql` and referenced `$vars` are auto-declared
  *    (:48-78)
  *  - `.rb.job`/`.py.job`/`.sh.job`: script with `#`-comment YAML header
  *    (:82-102)
  */
final case class JobFile(jobClass: String, values: Map[String, Any],
    inlineScript: Option[String] = None)

object JobFile {

  private val yaml = new ObjectMapper(new YAMLFactory())

  /** A YAML mapping; an empty or comment-only document is no keys. */
  def parseYamlMap(text: String): Map[String, Any] = {
    val parser = yaml.createParser(text)
    try {
      val node =
        if (parser.nextToken() == null) null
        else yaml.readValue(parser, classOf[java.util.Map[String, Object]])
      if (node == null) Map.empty else fromJava(node).asInstanceOf[Map[String, Any]]
    } finally parser.close()
  }

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, value) => String.valueOf(k) -> fromJava(value) }.toMap
    case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
    case other => other
  }

  def load(path: Path): JobFile = {
    val name = path.getFileName.toString
    val text = Files.readString(path)
    if (name.endsWith(".sql.job")) loadSqlJob(text)
    else if (name.endsWith(".rb.job") || name.endsWith(".py.job") || name.endsWith(".sh.job"))
      loadScriptJob(text)
    else if (name.endsWith(".job")) loadYamlJob(text)
    else throw new JobError(s"unknown job file type: $name")
  }

  def loadYamlJob(text: String): JobFile = {
    val values = parseYamlMap(text)
    val cls = values.get("class").map(String.valueOf).getOrElse(
      throw new ParameterError("job file has no 'class:' key"))
    JobFile(cls, values - "class")
  }

  /** Leading block-comment YAML header + SQL body (reference: jobfile.rb:25-41). */
  def loadSqlJob(text: String): JobFile = {
    val trimmed = text.dropWhile(_.isWhitespace)
    val (header, body) =
      if (trimmed.startsWith("/*")) {
        val end = trimmed.indexOf("*/")
        if (end < 0) throw new JobError(".sql.job: unterminated /* */ header")
        (trimmed.substring(2, end), trimmed.substring(end + 2))
      } else ("", trimmed)
    val values = if (header.trim.isEmpty) Map.empty[String, Any]
      else parseYamlMap(dedent(header))
    val cls = values.get("class").map(String.valueOf).getOrElse("sql")
    JobFile(cls, values - "class", inlineScript = Some(body.trim))
  }

  /** Strip the indentation an embedded header inherits from its comment
    * block: the first non-blank line is left-stripped, the rest dedented by
    * their common indent (keeps nested YAML structure intact).
    */
  private def dedent(header: String): String = {
    val lines = header.linesIterator.toVector.dropWhile(_.trim.isEmpty)
    if (lines.isEmpty) return ""
    val first = lines.head.dropWhile(_.isWhitespace)
    val rest = lines.tail
    val indent = rest.filter(_.trim.nonEmpty)
      .map(_.takeWhile(_ == ' ').length).minOption.getOrElse(0)
    (first +: rest.map(l => if (l.length >= indent) l.substring(indent) else l.trim))
      .mkString("\n")
  }

  /** `#`-comment YAML header above a script body (reference: jobfile.rb:82-102). */
  def loadScriptJob(text: String): JobFile = {
    val lines = text.linesIterator.toVector
    val headerLines = lines.takeWhile(l => l.startsWith("#") || l.trim.isEmpty)
    val header = headerLines.map(_.dropWhile(_ == '#')).mkString("\n")
    val body = lines.drop(headerLines.length).mkString("\n")
    val values = if (header.trim.isEmpty) Map.empty[String, Any] else parseYamlMap(header)
    val cls = values.get("class").map(String.valueOf).getOrElse(
      throw new ParameterError("script job file has no 'class:' key"))
    JobFile(cls, values - "class", inlineScript = Some(body))
  }
}
