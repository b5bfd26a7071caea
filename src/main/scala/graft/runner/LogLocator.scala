package graft.runner

import java.io.{FileOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import graft.ds.DataSourceRegistry
import graft.net.JobRef

/** Per-job stdout/stderr redirection to a log file
  * (reference: lib/bricolage/loglocator.rb:21-40 redirect_stdouts —
  * reopen, run, restore, then upload). JVM-level System.out/err swap;
  * also swaps scala.Console so `println` from job code lands in the file.
  */
object LogLocator {

  def redirect[A](path: Path, upload: Option[Path => Unit] = None)(f: => A): A = {
    if (path.getParent != null) Files.createDirectories(path.getParent)
    val out = new PrintStream(new FileOutputStream(path.toFile), true)
    val origOut = System.out
    val origErr = System.err
    System.setOut(out)
    System.setErr(out)
    try Console.withOut(out)(Console.withErr(out)(f))
    finally {
      System.setOut(origOut)
      System.setErr(origErr)
      out.close()
      // post-run log shipping (reference: loglocator.rb:60-76 upload —
      // failures warn, never fail the job)
      upload.foreach { up =>
        try up(path)
        catch { case e: Exception =>
          System.err.println(s"warning: log upload failed: ${e.getMessage}: $path")
        }
      }
    }
  }
}

/** Per-job log wiring: each job's output goes to its templated log path
  * and, with `s3-log`, is shipped to an object store afterwards
  * (reference: application.rb:222-234 common log options,
  * loglocator.rb:60-76 upload).
  */
final class JobLogs(path: LogFilePath, upload: Option[Path => Unit]) {
  def redirect[A](ref: JobRef, jobnetId: String, jobStart: LocalDateTime,
      jobnetStart: LocalDateTime)(f: => A): A =
    LogLocator.redirect(
      Paths.get(path.format(ref, jobnetId, jobStart, jobnetStart)), upload)(f)
}

object JobLogs {
  /** From the effective `log-dir`/`log-path`/`s3-log` values
    * ([[Cli.effectiveOptions]]). log-dir wins over log-path, even a
    * cmdline log-path — the reference's log_path_format order
    * (application.rb:260-268; logfilepath.rb:3-11). `s3-log` is `DS:KEY`,
    * the key prefix defaulting to `logs`; without a log path there is
    * nothing to ship.
    */
  def apply(effective: Map[String, Option[String]],
      registry: DataSourceRegistry): Option[JobLogs] = {
    val template = effective("log-dir").map(d => s"$d/%{std}.log")
      .orElse(effective("log-path"))
    template.map { t =>
      val upload = effective("s3-log").map { spec =>
        val (dsName, key) = spec.split(":", 2) match {
          case Array(ds, k) if k.trim.nonEmpty => (ds, k.trim)
          case other => (other.head, "logs")
        }
        val store = registry.store(dsName)
        (f: Path) => store.put(f, key.stripSuffix("/") + "/" + f.getFileName.toString)
      }
      new JobLogs(new LogFilePath(t), upload)
    }
  }
}
