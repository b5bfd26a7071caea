package graft.net

import java.sql.{Connection, DriverManager, ResultSet, Statement, Timestamp}
import java.time.Instant

/** JDBC-backed execution store (reference: the PostgreSQL DAO layer —
  * schema/Schemafile:16-33 `job_executions` + `job_execution_states`,
  * dao/jobexecution.rb:148-213 state-guarded updates, dao/jobnet.rb:289-305
  * `update ... set executor_id = ? where ... executor_id is null` optimistic
  * locking). Backed here by embedded Derby (ships with Spark for the Hive
  * metastore), but every statement is plain ANSI SQL + JDBC, so pointing
  * the URL at a server-side database gives real multi-runner coordination:
  * the state guards and lock updates are WHERE-clause atomic, not
  * process-local synchronization.
  *
  * URL example: `jdbc:derby:/path/to/db;create=true`.
  */
final class JdbcExecutionStore(jdbcUrl: String,
    connProps: java.util.Properties = new java.util.Properties())
    extends AutoCloseable {

  import ExecutionStatus._

  private val conn: Connection = DriverManager.getConnection(jdbcUrl, connProps)
  conn.setAutoCommit(true)
  init()

  /** Unique-constraint violation across drivers: Derby raises the
    * SQLIntegrityConstraintViolationException subclass, PostgreSQL raises a
    * plain SQLException with SQLState class 23 (integrity violation).
    */
  private def isIntegrityViolation(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      Option(e.getSQLState).exists(_.startsWith("23"))

  /** Close the connection; for embedded Derby additionally shut the
    * database down so its `db.lck` is released and a later run in the same
    * JVM can boot the same path (Derby signals a successful single-db
    * shutdown with SQLState 08006, which is expected, not an error).
    */
  override def close(): Unit = {
    // tolerate a connection whose database another store already shut down
    try conn.close() catch { case _: java.sql.SQLException => () }
    if (jdbcUrl.startsWith("jdbc:derby:")) {
      val dbUrl = jdbcUrl.split(";").head
      try { DriverManager.getConnection(dbUrl + ";shutdown=true"); () }
      catch { case _: java.sql.SQLException => () }
    }
  }

  /** Metadata probes narrow to the connection's CURRENT schema: a null
    * schema pattern means "do not narrow" per the JDBC spec, so on a
    * shared server database another schema's same-named table/index would
    * satisfy the probe and corrupt init/migration decisions.
    */
  private def currentSchema: String =
    try conn.getSchema catch { case _: Throwable => null }

  /** Unquoted identifiers are stored uppercase by Derby and lowercase by
    * PostgreSQL — probe both so a server-side store isn't re-created.
    */
  private def tableExists(name: String): Boolean = {
    def probe(n: String): Boolean = {
      val rs = conn.getMetaData.getTables(null, currentSchema, n, null)
      val e = rs.next(); rs.close(); e
    }
    probe(name.toUpperCase) || probe(name.toLowerCase)
  }

  private def columnExists(table: String, column: String): Boolean = {
    def probe(t: String, c: String): Boolean = {
      val rs = conn.getMetaData.getColumns(null, currentSchema, t, c)
      val e = rs.next(); rs.close(); e
    }
    probe(table.toUpperCase, column.toUpperCase) ||
      probe(table.toLowerCase, column.toLowerCase)
  }

  /** Is there a unique index covering `column` in the current schema?
    * Detects the installed active_key constraint without issuing DDL — a
    * non-owner connection to a DBA-provisioned server schema cannot even
    * attempt ALTER TABLE.
    */
  private def uniqueIndexOn(table: String, column: String): Boolean = {
    def probe(t: String): Boolean = {
      val rs = conn.getMetaData.getIndexInfo(null, currentSchema, t, true, false)
      var found = false
      while (rs.next()) {
        val c = rs.getString("COLUMN_NAME")
        if (c != null && c.equalsIgnoreCase(column)) found = true
      }
      rs.close(); found
    }
    probe(table.toUpperCase) || probe(table.toLowerCase)
  }

  private def init(): Unit = synchronized {
    if (!tableExists("JOB_EXECUTIONS")) {
      val st = conn.createStatement()
      // reference: schema/Schemafile:16-26. active_key encodes
      // (jobnet, subsys, job_name) while the execution is non-terminal and
      // goes NULL on success/cancel; the UNIQUE constraint (multiple NULLs
      // allowed in both Derby and PostgreSQL) makes a cross-process racing
      // enqueue INSERT lose with a constraint violation instead of
      // double-inserting — correctness no longer depends on the jobnet
      // lock's ordering.
      st.executeUpdate(
        """CREATE TABLE job_executions (
          | job_execution_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          | jobnet VARCHAR(512) NOT NULL,
          | subsys VARCHAR(256) NOT NULL,
          | job_name VARCHAR(256) NOT NULL,
          | execution_sequence INT NOT NULL,
          | status VARCHAR(16) NOT NULL,
          | message VARCHAR(4000) NOT NULL,
          | submitted_at TIMESTAMP NOT NULL,
          | started_at TIMESTAMP,
          | finished_at TIMESTAMP,
          | active_key VARCHAR(1024),
          | CONSTRAINT job_exec_active_uq UNIQUE (active_key))""".stripMargin)
      createStates(st)
      st.close()
    } else migrateActiveKey()
  }

  private def createStates(st: Statement): Unit = {
      // reference: schema/Schemafile:27-33
      st.executeUpdate(
        """CREATE TABLE job_execution_states (
          | state_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          | job_execution_id BIGINT NOT NULL,
          | status VARCHAR(16) NOT NULL,
          | message VARCHAR(4000) NOT NULL,
          | created_at TIMESTAMP NOT NULL)""".stripMargin)
      // lock rows carry the holder; NULL executor_id = free
      // (reference: dao/jobnet.rb:289-305)
      st.executeUpdate(
        """CREATE TABLE execution_locks (
          | lock_key VARCHAR(512) PRIMARY KEY,
          | executor_id VARCHAR(128),
          | locked_at TIMESTAMP)""".stripMargin)
  }

  /** Upgrade a store created before active_key existed: add the column,
    * backfill non-terminal rows, then install the unique constraint (which
    * surfaces any pre-existing duplicate as a loud failure rather than
    * silently keeping both).
    */
  private def migrateActiveKey(): Unit = {
    if (!columnExists("JOB_EXECUTIONS", "ACTIVE_KEY")) {
      val st = conn.createStatement()
      st.executeUpdate(
        "ALTER TABLE job_executions ADD COLUMN active_key VARCHAR(1024)")
      st.close()
      val sel = conn.createStatement()
      val rs = sel.executeQuery(
        """SELECT job_execution_id, jobnet, subsys, job_name FROM job_executions
          | WHERE status IN ('waiting', 'running', 'failed')""".stripMargin)
      val live = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
        .toSeq
      rs.close(); sel.close()
      val upd = conn.prepareStatement(
        "UPDATE job_executions SET active_key = ? WHERE job_execution_id = ?")
      live.foreach { case (id, net, sub, job) =>
        upd.setString(1, activeKey(net, sub, job)); upd.setLong(2, id)
        upd.executeUpdate()
      }
      upd.close()
    }
    // Installed separately from the column step so a rerun after a failed
    // install (pre-existing duplicate live rows must be resolved first)
    // still gets the constraint instead of silently skipping it. Existence
    // is probed via metadata (no DDL on an already-constrained table — a
    // non-owner connection must not even attempt ALTER); the catch is a
    // belt-and-braces for two stores racing the install (Derby X0Y32
    // duplicate name / 42Z93 same column set, PostgreSQL 42710/42P07).
    // A 23xxx duplicate-data violation propagates loudly by design.
    if (!uniqueIndexOn("JOB_EXECUTIONS", "ACTIVE_KEY")) {
      try {
        val con = conn.createStatement()
        con.executeUpdate(
          "ALTER TABLE job_executions ADD CONSTRAINT job_exec_active_uq UNIQUE (active_key)")
        con.close()
      } catch {
        case e: java.sql.SQLException
            if Option(e.getSQLState).exists(s =>
              s == "X0Y32" || s == "42Z93" ||
                s == "42710" || s == "42P07" || s == "42P16") => ()
      }
    }
  }

  private def rowToExec(rs: ResultSet): JobExecution =
    JobExecution(
      rs.getLong("job_execution_id"), rs.getString("jobnet"),
      rs.getString("subsys"), rs.getString("job_name"),
      rs.getInt("execution_sequence"), rs.getString("status"),
      rs.getString("message"), rs.getTimestamp("submitted_at").toInstant,
      Option(rs.getTimestamp("started_at")).map(_.toInstant),
      Option(rs.getTimestamp("finished_at")).map(_.toInstant))

  /** Messages live in VARCHAR(4000); an oversized failure message must
    * never make the failure-recording write itself fail.
    */
  private def trunc(m: String): String =
    if (m == null) "" else if (m.length > 4000) m.take(3997) + "..." else m

  private def record(id: Long, status: String, message: String): Unit = {
    val ps = conn.prepareStatement(
      """INSERT INTO job_execution_states
        | (job_execution_id, status, message, created_at)
        | VALUES (?, ?, ?, ?)""".stripMargin)
    ps.setLong(1, id); ps.setString(2, status); ps.setString(3, trunc(message))
    ps.setTimestamp(4, Timestamp.from(Instant.now()))
    ps.executeUpdate(); ps.close()
  }

  def all: Seq[JobExecution] = synchronized {
    val st = conn.createStatement()
    val rs = st.executeQuery(
      "SELECT * FROM job_executions ORDER BY job_execution_id")
    val out = Iterator.continually(rs).takeWhile(_.next()).map(rowToExec).toSeq
    rs.close(); st.close(); out
  }

  def stateTransitions: Seq[StateTransition] = synchronized {
    val st = conn.createStatement()
    val rs = st.executeQuery(
      "SELECT * FROM job_execution_states ORDER BY state_id")
    val out = Iterator.continually(rs).takeWhile(_.next()).map(r =>
      StateTransition(r.getLong("job_execution_id"), r.getString("status"),
        r.getString("message"), r.getTimestamp("created_at").toInstant)).toSeq
    rs.close(); st.close(); out
  }

  def get(id: Long): Option[JobExecution] = synchronized {
    val ps = conn.prepareStatement(
      "SELECT * FROM job_executions WHERE job_execution_id = ?")
    ps.setLong(1, id)
    val rs = ps.executeQuery()
    val out = if (rs.next()) Some(rowToExec(rs)) else None
    rs.close(); ps.close(); out
  }

  /** The non-terminal uniqueness key, components joined with the ASCII
    * unit separator (which job/jobnet names never contain, unlike tabs or
    * newlines which the TSV store explicitly tolerates).
    */
  private def activeKey(jobnet: String, subsys: String, jobName: String): String =
    s"$jobnet\u001F$subsys\u001F$jobName"

  /** Reuse an existing non-terminal execution for (jobnet, job), else
    * INSERT a waiting one (reference: dao/jobexecution.rb enqueue upsert).
    * The INSERT carries the row's active_key, so when two runners race
    * past each other's SELECT the loser's INSERT hits the unique
    * constraint and falls back to the winner's row — no duplicate
    * 'waiting' executions regardless of lock ordering.
    */
  def enqueueJob(jobnet: String, ref: JobRef, sequence: Int): JobExecution =
    synchronized {
      def selectExisting(): Option[JobExecution] = {
        val sel = conn.prepareStatement(
          """SELECT * FROM job_executions
            | WHERE jobnet = ? AND subsys = ? AND job_name = ?
            |   AND status IN ('waiting', 'running', 'failed')
            | ORDER BY job_execution_id""".stripMargin)
        sel.setString(1, jobnet); sel.setString(2, ref.subsys); sel.setString(3, ref.name)
        val rs = sel.executeQuery()
        val existing = if (rs.next()) Some(rowToExec(rs)) else None
        rs.close(); sel.close()
        existing
      }
      selectExisting().getOrElse {
        try {
          val ins = conn.prepareStatement(
            """INSERT INTO job_executions
              | (jobnet, subsys, job_name, execution_sequence, status, message,
              |  submitted_at, active_key)
              | VALUES (?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin,
            Statement.RETURN_GENERATED_KEYS)
          ins.setString(1, jobnet); ins.setString(2, ref.subsys)
          ins.setString(3, ref.name); ins.setInt(4, sequence)
          ins.setString(5, Waiting); ins.setString(6, "")
          ins.setTimestamp(7, Timestamp.from(Instant.now()))
          ins.setString(8, activeKey(jobnet, ref.subsys, ref.name))
          ins.executeUpdate()
          val keys = ins.getGeneratedKeys
          keys.next()
          val id = keys.getLong(1)
          keys.close(); ins.close()
          record(id, Waiting, "")
          get(id).get
        } catch {
          case e: java.sql.SQLException if isIntegrityViolation(e) =>
            // a racing runner's INSERT committed between our SELECT and
            // INSERT — adopt its execution row
            selectExisting().getOrElse(
              throw new IllegalJobStateException(
                s"lost enqueue race but no live execution found: $jobnet ${ref.name}"))
        }
      }
    }

  def enqueuedJobs(jobnet: String): Seq[JobExecution] = synchronized {
    val ps = conn.prepareStatement(
      """SELECT * FROM job_executions
        | WHERE jobnet = ? AND status IN ('waiting', 'running', 'failed')
        | ORDER BY execution_sequence, job_execution_id""".stripMargin)
    ps.setString(1, jobnet)
    val rs = ps.executeQuery()
    val out = Iterator.continually(rs).takeWhile(_.next()).map(rowToExec).toSeq
    rs.close(); ps.close(); out
  }

  /** State-guarded transition: the UPDATE's WHERE carries the legal source
    * states, so the check-and-set is one atomic statement (reference:
    * dao/jobexecution.rb:155-185 — `update ... where status in (...)`).
    */
  private def transition(id: Long, from: Seq[String], to: String,
      message: String, setStarted: Boolean, setFinished: Boolean): JobExecution =
    synchronized {
      val marks = from.map(_ => "?").mkString(", ")
      val sets = new StringBuilder("status = ?, message = ?")
      if (setStarted) sets ++= ", started_at = ?, finished_at = NULL"
      if (setFinished) sets ++= ", finished_at = ?"
      // terminal rows free the uniqueness slot so a later run can enqueue
      // a fresh execution of the same job
      if (to == Succeeded || to == Canceled) sets ++= ", active_key = NULL"
      val ps = conn.prepareStatement(
        s"UPDATE job_executions SET $sets WHERE job_execution_id = ? AND status IN ($marks)")
      var i = 0
      def next(): Int = { i += 1; i }
      ps.setString(next(), to); ps.setString(next(), trunc(message))
      if (setStarted || setFinished)
        ps.setTimestamp(next(), Timestamp.from(Instant.now()))
      ps.setLong(next(), id)
      from.foreach(s => ps.setString(next(), s))
      val n = ps.executeUpdate()
      ps.close()
      if (n == 0) {
        val cur = get(id).getOrElse(
          throw new IllegalJobStateException(s"no such job execution: $id"))
        throw new IllegalJobStateException(
          s"illegal transition ${cur.status} -> $to: job_execution_id=$id")
      }
      record(id, to, message)
      get(id).get
    }

  /** waiting|failed → running; ALSO running → running, which re-claims an
    * execution a crashed runner left behind (the restart path: restore
    * loads non-terminal executions, and an orphaned 'running' row must be
    * resumable without --clear-queue throwing away real progress).
    */
  def transitionToRunning(id: Long): JobExecution =
    transition(id, Seq(Waiting, Failed, Running), Running, "",
      setStarted = true, setFinished = false)

  def transitionToSucceeded(id: Long): JobExecution =
    transition(id, Seq(Running), Succeeded, "",
      setStarted = false, setFinished = true)

  def transitionToFailed(id: Long, message: String): JobExecution =
    transition(id, Seq(Running), Failed, message,
      setStarted = false, setFinished = true)

  /** Clear a jobnet's lock regardless of holder — the operator action for
    * a runner that died holding it (the dead pid's executor_id can never
    * unlock itself).
    */
  def forceUnlock(key: String): Unit = synchronized {
    val ps = conn.prepareStatement(
      "UPDATE execution_locks SET executor_id = NULL WHERE lock_key = ?")
    ps.setString(1, key)
    ps.executeUpdate(); ps.close()
  }

  def cancelJobnet(jobnet: String, message: String): Unit = synchronized {
    val affected = enqueuedJobs(jobnet).map(_.id)
    val ps = conn.prepareStatement(
      """UPDATE job_executions
        | SET status = ?, message = ?, finished_at = ?, active_key = NULL
        | WHERE jobnet = ? AND status IN ('waiting', 'running', 'failed')""".stripMargin)
    ps.setString(1, Canceled); ps.setString(2, trunc(message))
    ps.setTimestamp(3, Timestamp.from(Instant.now())); ps.setString(4, jobnet)
    ps.executeUpdate(); ps.close()
    affected.foreach(record(_, Canceled, message))
    val del = conn.prepareStatement(
      "DELETE FROM execution_locks WHERE lock_key = ? OR lock_key LIKE ?")
    del.setString(1, jobnet); del.setString(2, jobnet + "#%")
    del.executeUpdate(); del.close()
  }

  /** The reference's optimistic lock: claim succeeds only when the row's
    * executor_id is NULL (or already ours) — one atomic UPDATE
    * (dao/jobnet.rb:289-305).
    */
  def lock(key: String, executorId: String): Unit = synchronized {
    // ensure the lock row exists (free); a racing INSERT loses harmlessly
    try {
      val ins = conn.prepareStatement(
        "INSERT INTO execution_locks (lock_key) VALUES (?)")
      ins.setString(1, key)
      ins.executeUpdate(); ins.close()
    } catch { case e: java.sql.SQLException if isIntegrityViolation(e) => () }
    val upd = conn.prepareStatement(
      """UPDATE execution_locks SET executor_id = ?, locked_at = ?
        | WHERE lock_key = ? AND (executor_id IS NULL OR executor_id = ?)""".stripMargin)
    upd.setString(1, executorId); upd.setTimestamp(2, Timestamp.from(Instant.now()))
    upd.setString(3, key); upd.setString(4, executorId)
    val n = upd.executeUpdate()
    upd.close()
    if (n == 0)
      throw new IllegalJobStateException(
        s"already locked by ${lockedBy(key).getOrElse("?")}: $key")
  }

  def unlock(key: String, executorId: String): Unit = synchronized {
    val ps = conn.prepareStatement(
      "UPDATE execution_locks SET executor_id = NULL WHERE lock_key = ? AND executor_id = ?")
    ps.setString(1, key); ps.setString(2, executorId)
    ps.executeUpdate(); ps.close()
  }

  def lockedBy(key: String): Option[String] = synchronized {
    val ps = conn.prepareStatement(
      "SELECT executor_id FROM execution_locks WHERE lock_key = ?")
    ps.setString(1, key)
    val rs = ps.executeQuery()
    val out = if (rs.next()) Option(rs.getString(1)) else None
    rs.close(); ps.close(); out
  }
}

object JdbcExecutionStore {
  /** Derby writes a derby.log in the working dir unless told otherwise. */
  def quietDerby(): Unit =
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        System.getProperty("java.io.tmpdir") + "/derby.log")

  def embedded(dbDir: java.nio.file.Path): JdbcExecutionStore = {
    quietDerby()
    new JdbcExecutionStore(s"jdbc:derby:$dbDir;create=true")
  }
}
