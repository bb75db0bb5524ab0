package graft.core

/** robots.txt parsing + path matching per RFC 9309 (public spec; the reference's
  * own robots handling is unrecoverable — SURVEY.md §0.1/§8.5).
  *
  * Matching rule (RFC 9309 §2.2.2): collect Allow/Disallow rules of the most
  * specific matching user-agent group ("*" here — the engine crawls as agent
  * `graft`); the longest rule that prefix-matches the path wins; Allow wins ties;
  * no match ⇒ allowed; empty Disallow value matches nothing.
  */
object Robots {

  final case class Rules(crawlDelayMs: Long, allow: Vector[String], disallow: Vector[String]) {
    def allowed(path: String): Boolean = {
      var bestLen = -1
      var bestAllow = true
      allow.foreach { r =>
        if (r.nonEmpty && path.startsWith(r) && r.length > bestLen) {
          bestLen = r.length; bestAllow = true
        }
      }
      disallow.foreach { r =>
        if (r.nonEmpty && path.startsWith(r) &&
          (r.length > bestLen || (r.length == bestLen && !bestAllow))) {
          // strictly longer disallow wins; equal length → allow wins (keep)
          if (r.length > bestLen) { bestLen = r.length; bestAllow = false }
        }
      }
      bestAllow
    }
  }

  val Permissive: Rules = Rules(0L, Vector.empty, Vector.empty)

  /** Parse a robots.txt body for `agent` (exact token match or "*" group). A
    * specific-agent group, when present, REPLACES the "*" group (RFC 9309 §2.2.1:
    * only the most specific matching group applies). */
  def parse(body: String, agent: String = "graft"): Rules = {
    final case class Group(
        agents: List[String], allow: List[String], disallow: List[String], delayMs: Option[Long])
    var groups = List.empty[Group]
    var cur: Option[Group] = None
    var lastWasAgent = false
    body.linesIterator.foreach { line0 =>
      val line = line0.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            cur = if (lastWasAgent && cur.isDefined)
              Some(cur.get.copy(agents = value.toLowerCase :: cur.get.agents))
            else {
              cur.foreach(g => groups :+= g)
              Some(Group(List(value.toLowerCase), Nil, Nil, None))
            }
            lastWasAgent = true
          case "allow" =>
            cur = cur.map(g => g.copy(allow = g.allow :+ value)); lastWasAgent = false
          case "disallow" =>
            cur = cur.map(g => g.copy(disallow = g.disallow :+ value)); lastWasAgent = false
          case "crawl-delay" =>
            val ms = try Some((value.toDouble * 1000).toLong) catch { case _: Throwable => None }
            cur = cur.map(g => g.copy(delayMs = ms.orElse(g.delayMs))); lastWasAgent = false
          case _ => lastWasAgent = false
        }
      }
    }
    cur.foreach(g => groups :+= g)
    val al = agent.toLowerCase
    val specific = groups.filter(_.agents.contains(al))
    val star = groups.filter(_.agents.contains("*"))
    val chosen = if (specific.nonEmpty) specific else star
    if (chosen.isEmpty) Permissive
    else Rules(
      chosen.flatMap(_.delayMs).headOption.getOrElse(0L),
      chosen.flatMap(_.allow).toVector,
      chosen.flatMap(_.disallow).toVector)
  }
}
