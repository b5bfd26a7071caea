package graft.net

import java.nio.file.{Files, Path}
import scala.collection.mutable

import graft.core.{JobError, ParameterError}

/** A node reference in a jobnet: `[subsys/]name`, `*[subsys/]net` for nested
  * jobnets (reference: lib/bricolage/jobnet.rb:190-254).
  */
final case class JobRef(subsys: String, name: String, isNet: Boolean) {
  override def toString: String =
    (if (isNet) "*" else "") + (if (subsys.isEmpty) name else s"$subsys/$name")
}

object JobRef {
  def parse(s: String, defaultSubsys: String = ""): JobRef = {
    val isNet = s.startsWith("*")
    val body = if (isNet) s.substring(1) else s
    body.split("/", 2) match {
      case Array(n)      => JobRef(defaultSubsys, n, isNet)
      case Array(ss, n)  => JobRef(ss, n, isNet)
      case _             => throw new JobError(s"bad job ref: '$s'")
    }
  }
}

/** Jobnet file: edge-list text format with `->` edges, `*net` nested
  * jobnets, and `#` comments (reference: lib/bricolage/jobnet.rb:298-346;
  * example test/home/subsys/net1.jobnet:1-3). A line with a single node
  * declares it with no edge.
  */
final case class JobNet(ref: JobRef, edges: Seq[(JobRef, JobRef)],
    soloNodes: Seq[JobRef]) {
  def nodes: Seq[JobRef] =
    (edges.flatMap(e => Seq(e._1, e._2)) ++ soloNodes).distinct
}

object JobNet {

  def parseFile(path: Path, ref: JobRef): JobNet =
    parse(Files.readString(path), ref)

  def parse(text: String, ref: JobRef): JobNet = {
    val edges = mutable.ArrayBuffer.empty[(JobRef, JobRef)]
    val solo = mutable.ArrayBuffer.empty[JobRef]
    // a line starting with `->` continues from the previous line's last
    // node (reference: jobnet.rb:316-330 — the source of DEPEND_PATTERN is
    // optional; fixture net1.jobnet:2-3 uses this style)
    var prev: Option[JobRef] = None
    text.linesIterator.zipWithIndex.foreach { case (raw, lineNo) =>
      val line = raw.replaceAll("#.*$", "").trim
      if (line.nonEmpty) {
        // split(-1) keeps trailing empties so 'a ->' and a lone '->' are
        // caught as syntax errors instead of indexing crashes
        val parts = line.split("->", -1).map(_.trim)
        def syntaxError() = throw new ParameterError(
          s"syntax error at ${ref}:${lineNo + 1}: '$line'")
        if (parts.exists(p => p.nonEmpty && p != "*" && JobRef.parse(p, ref.subsys).name.isEmpty))
          syntaxError()
        if (parts.length == 1) {
          if (parts(0).isEmpty) syntaxError()
          val node = JobRef.parse(parts(0), ref.subsys)
          solo += node
          prev = Some(node)
        } else {
          if (parts.drop(1).exists(_.isEmpty)) syntaxError() // 'a ->', '->'
          val heads: Seq[JobRef] =
            if (parts(0).isEmpty)
              Seq(prev.getOrElse(throw new ParameterError(
                s"syntax error at ${ref}:${lineNo + 1}: '->' must follow any job")))
            else Seq(JobRef.parse(parts(0), ref.subsys))
          val rest = parts.drop(1).map(JobRef.parse(_, ref.subsys))
          (heads ++ rest).sliding(2).foreach { case Seq(a, b) =>
            edges += ((a, b))
          }
          prev = Some(rest.last)
        }
      }
    }
    JobNet(ref, edges.toSeq, solo.toSeq)
  }

  /** Recursively resolve nested jobnets: a `*net` node is replaced by that
    * net's start/end closure (reference: jobnet.rb:66-83 load_recursive +
    * :256-273 dummy start/end fixup). `loader` maps a net ref to its parsed
    * JobNet.
    */
  def flatten(root: JobNet, loader: JobRef => JobNet): Seq[(JobRef, JobRef)] = {
    // Cycle detection tracks the CURRENT expansion path only; a subnet
    // referenced from two parents (legal diamond) is expanded once and its
    // (start, end) closure reused (reference memoizes subnet loads,
    // jobnet.rb:66-83, and finds true cycles via tsort).
    val path = mutable.LinkedHashSet.empty[String]
    val memo = mutable.Map.empty[String, (JobRef, JobRef)]
    val allEdges = mutable.ArrayBuffer.empty[(JobRef, JobRef)]

    def expand(net: JobNet): (JobRef, JobRef) = {
      val key = net.ref.toString
      memo.get(key) match {
        case Some(se) => se
        case None => expandFresh(net, key)
      }
    }

    def expandFresh(net: JobNet, key: String): (JobRef, JobRef) = {
      if (!path.add(key))
        throw new JobError(
          s"circular jobnet reference: ${(path.toSeq :+ key).mkString(" -> ")}")
      val start = JobRef(net.ref.subsys, s"@${net.ref.name}@start", isNet = false)
      val end = JobRef(net.ref.subsys, s"@${net.ref.name}@end", isNet = false)
      val nodes = net.nodes
      val edges = mutable.ArrayBuffer.empty[(JobRef, JobRef)]
      // map each node to (entry, exit) — nets expand to their own closure
      val entryExit = nodes.map { n =>
        if (n.isNet) n.toString -> expand(loader(n))
        else n.toString -> (n, n)
      }.toMap
      net.edges.foreach { case (a, b) =>
        edges += ((entryExit(a.toString)._2, entryExit(b.toString)._1))
      }
      // dummy start precedes sources; dummy end follows sinks
      val inDeg = net.edges.map(_._2.toString).toSet
      val outDeg = net.edges.map(_._1.toString).toSet
      nodes.foreach { n =>
        val (entry, exit) = entryExit(n.toString)
        if (!inDeg.contains(n.toString)) edges += ((start, entry))
        if (!outDeg.contains(n.toString)) edges += ((exit, end))
      }
      path.remove(key)
      memo(key) = (start, end)
      allEdges ++= edges
      (start, end)
    }

    expand(root)
    allEdges.toSeq
  }
}

/** DAG over job refs with cycle/orphan checks and topological order
  * (reference: lib/bricolage/jobnet.rb:98-166 JobDAG — tsort → sequential
  * job list; execution remains sequential by design).
  */
final class JobDAG(edges: Seq[(JobRef, JobRef)]) {

  private val nodes: Seq[JobRef] =
    edges.flatMap(e => Seq(e._1, e._2)).distinctBy(_.toString)

  private val succ: Map[String, Seq[JobRef]] =
    edges.groupBy(_._1.toString).view.mapValues(_.map(_._2)).toMap

  /** Kahn topological sort; raises on cycles (reference: jobnet.rb:148-155). */
  def sequentialJobs: Seq[JobRef] = {
    val inDeg = mutable.Map.empty[String, Int].withDefaultValue(0)
    val byName = nodes.map(n => n.toString -> n).toMap
    edges.foreach { case (_, b) => inDeg(b.toString) += 1 }
    // deterministic: sort ready set by name
    val ready = mutable.PriorityQueue.empty[String](Ordering[String].reverse)
    nodes.foreach(n => if (inDeg(n.toString) == 0) ready.enqueue(n.toString))
    val out = mutable.ArrayBuffer.empty[JobRef]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += byName(n)
      succ.getOrElse(n, Nil).foreach { m =>
        inDeg(m.toString) -= 1
        if (inDeg(m.toString) == 0) ready.enqueue(m.toString)
      }
    }
    if (out.length != nodes.length) {
      val remaining = nodes.map(_.toString).toSet -- out.map(_.toString).toSet
      throw new ParameterError(
        s"jobnet has a cycle involving: ${remaining.toSeq.sorted.mkString(", ")}")
    }
    out.toSeq.filterNot(_.name.startsWith("@")) // drop dummy start/end nodes
  }
}
