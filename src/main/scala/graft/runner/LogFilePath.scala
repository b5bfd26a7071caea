package graft.runner

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import graft.core.ParameterError
import graft.net.JobRef

/** Per-job log file path template with `%{var}` expansion
  * (reference: lib/bricolage/logfilepath.rb:17-75; `%{std}` expands to
  * `date/jobnet/time/subsys-job`, test/test_logfilepath.rb:160-170).
  *
  * Recognized variables: `%{std}`, `%{jobnet_start_date}`,
  * `%{jobnet_start_time}`, `%{job_start_date}`, `%{job_start_time}`,
  * `%{jobnet}`/`%{net}`/`%{jobnet_id}`/`%{net_id}`/`%{flow}`/`%{flow_id}`,
  * `%{subsystem}`, `%{job}`/`%{job_id}`. Unknown variables raise
  * [[graft.core.ParameterError]].
  */
final class LogFilePath(template: String) {

  import LogFilePath._

  def format(jobRef: JobRef, jobnetId: String, jobStartTime: LocalDateTime,
      jobnetStartTime: LocalDateTime): String =
    fill(template, jobRef, jobnetId, jobStartTime, jobnetStartTime)

  private def fill(t: String, jobRef: JobRef, jobnetId: String,
      jobStartTime: LocalDateTime, jobnetStartTime: LocalDateTime): String =
    Var.replaceAllIn(t, m => scala.util.matching.Regex.quoteReplacement(m.group(0) match {
      case "%{std}" =>
        fill(StdTemplate, jobRef, jobnetId, jobStartTime, jobnetStartTime)
      case "%{jobnet_start_date}" => DateFmt.format(jobnetStartTime)
      case "%{jobnet_start_time}" => TimeFmt.format(jobnetStartTime)
      case "%{job_start_date}"    => DateFmt.format(jobStartTime)
      case "%{job_start_time}"    => TimeFmt.format(jobStartTime)
      case "%{jobnet}" | "%{net}" | "%{jobnet_id}" | "%{net_id}" | "%{flow}" | "%{flow_id}" =>
        jobnetId.replace("/", "::")
      case "%{subsystem}" => jobRef.subsys
      case "%{job}" | "%{job_id}" => jobRef.name
      case other => throw new ParameterError(s"bad log path variable: $other")
    }))
}

object LogFilePath {
  private val Var = """%\{\w+\}""".r
  /** reference: logfilepath.rb:43 */
  val StdTemplate = "%{jobnet_start_date}/%{jobnet}/%{jobnet_start_time}/%{subsystem}-%{job}"
  private val DateFmt = DateTimeFormatter.ofPattern("yyyyMMdd")
  /** strftime '%Y%m%d_%H%M%S%L' — millisecond suffix */
  private val TimeFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmssSSS")
}
