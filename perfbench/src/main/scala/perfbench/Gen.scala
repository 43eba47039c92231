package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}
import scala.collection.mutable

/** Seeded GH Archive hour-file generator with its own event model.
  *
  * Every event is drawn from a model that knows the ReplacingMergeTree
  * ORDER BY key of the row it should become, so the generator keeps a
  * ledger (key -> winning id) without ever running the parser:
  *  - all ten event types the parser reads, with their payload shapes;
  *  - events of unknown types and malformed lines, which must be dropped;
  *  - Zipf-skewed repo and actor ids, labels from a vocabulary of 52;
  *  - re-delivered events (the same line twice, same id);
  *  - same-key events with a later id, which must win.
  */
object Gen {

  val types: IndexedSeq[(String, Int)] = IndexedSeq(
    "PushEvent" -> 38, "WatchEvent" -> 14, "IssueCommentEvent" -> 12,
    "PullRequestEvent" -> 9, "IssuesEvent" -> 7, "ForkEvent" -> 5,
    "PullRequestReviewCommentEvent" -> 5, "PullRequestReviewEvent" -> 4,
    "ReleaseEvent" -> 3, "CommitCommentEvent" -> 3)
  val unknownTypes: IndexedSeq[String] =
    IndexedSeq("CreateEvent", "DeleteEvent", "GollumEvent", "MemberEvent", "PublicEvent")

  val labels: IndexedSeq[String] = IndexedSeq(
    "bug", "enhancement", "documentation", "good first issue", "help wanted",
    "question", "wontfix", "duplicate", "invalid", "dependencies", "security",
    "performance", "refactor", "tests", "ci", "build", "ui", "api", "backend",
    "frontend", "breaking change", "needs triage", "priority: high",
    "priority: low", "p1", "p2", "p3", "area/ingest", "area/query",
    "area/serve", "kind/bug", "kind/feature", "size/S", "size/M", "size/L",
    "stale", "blocked", "in progress", "needs review", "release", "regression",
    "windows", "linux", "macos", "android", "ios", "docs", "examples",
    "javascript", "python", "go", "rust")

  val repos = 4000
  val actors = 20000
  val unknownPerMille = 8
  val redeliverPerMille = 20
  val sameKeyPerMille = 30

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  private def zipf(n: Int, s: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
    c.map(_ / acc)
  }
  private val repoCdf = zipf(repos, 1.1)
  private val actorCdf = zipf(actors, 0.9)
  private val labelCdf = zipf(labels.size, 0.8)
  private val typeCdf = {
    val tot = types.map(_._2).sum.toDouble
    types.map(_._2).scanLeft(0)(_ + _).tail.map(_ / tot).toArray
  }

  private def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    lo
  }

  def repoId(rank: Int): Long = 100000L + rank.toLong * 37
  def actorId(rank: Int): Long = 500000L + rank.toLong * 11
  /** Two repos in five belong to an organisation; the rest have no org. */
  def orgOf(repo: Long): Long = if (repo % 5 < 2) 9000L + repo % 300 else 0L

  /** The ORDER BY key of a stored row, platform excluded (always GitHub). */
  final case class Key(month: Int, org: Long, repo: Long, actor: Long,
      tpe: String, action: String, issue: Long, issueComment: Long,
      pullReview: Long, pullReviewComment: Long, commitComment: Long,
      push: Long, release: Long) {
    def csv: String =
      s"$month,$org,$repo,$actor,$tpe,$action,$issue,$issueComment," +
        s"$pullReview,$pullReviewComment,$commitComment,$push,$release"
  }
  val ledgerHeader: String =
    "month_key,org_id,repo_id,actor_id,type,action,issue_id,issue_comment_id," +
      "pull_review_id,pull_review_comment_id,commit_comment_id,push_id,release_id,id"

  /** One hour file of the calendar: `index` orders hours and ids. */
  final case class Hour(day: LocalDate, hour: Int, index: Int) {
    def name: String = f"$day-$hour%d.json.gz"
    def month: Int = day.getYear * 100 + day.getMonthValue
  }

  /** One written hour file; `ledger` maps each key it stores to the id
    * that must win.
    */
  final case class HourFile(path: String, ledger: Map[Key, Long])

  /** A model event: the key it will be stored under plus its JSON line. */
  private final case class Ev(key: Key, id: Long, json: String)

  private class FastGzip(out: OutputStream) extends GZIPOutputStream(out, 1 << 16) {
    `def`.setLevel(Deflater.BEST_SPEED)
  }

  def writeHour(dir: File, h: Hour, perHour: Int, seed: Long): HourFile = {
    dir.mkdirs()
    val f = new File(dir, h.name)
    val r = new SplittableRandom(seed * 1000003L + h.index)
    val out = new BufferedOutputStream(new FastGzip(new FileOutputStream(f)), 1 << 20)
    val ledger = mutable.HashMap.empty[Key, Long]
    val recent = mutable.ArrayBuffer.empty[Ev]
    def emit(s: String): Unit = {
      out.write(s.getBytes(StandardCharsets.UTF_8)); out.write('\n')
    }
    val baseId = 30000000000L + h.index.toLong * 1000000L
    var i = 0
    while (i < perHour) {
      val id = baseId + i
      val p = r.nextInt(1000)
      if (p < redeliverPerMille && recent.nonEmpty) {
        emit(recent(r.nextInt(recent.size)).json) // same line, same id
      } else if (p < redeliverPerMille + sameKeyPerMille && recent.nonEmpty) {
        val prev = recent(r.nextInt(recent.size))
        val ev = event(r, h, id, Some(prev.key))
        ledger(ev.key) = id // later id, same key: this one wins
        emit(ev.json)
      } else if (p < redeliverPerMille + sameKeyPerMille + unknownPerMille) {
        emit(unknown(r, h, id))
      } else {
        val ev = event(r, h, id, None)
        ledger(ev.key) = math.max(ledger.getOrElse(ev.key, 0L), id)
        if (recent.size < 512) recent += ev else recent(r.nextInt(512)) = ev
        emit(ev.json)
      }
      i += 1
    }
    // malformed lines the parser must drop: truncated JSON, an
    // unparseable created_at, an issue-family event without its issue
    val env = envelope(h, baseId + perHour, "IssuesEvent", actorId(1), repoId(1),
      ts(h, 1, 2))
    emit(env.dropRight(7))
    emit(envelope(h, baseId + perHour + 1, "WatchEvent", actorId(2), repoId(2),
      "2023-13-45T99:00:00Z") + """"payload":{"action":"started"}}""")
    emit(env + """"payload":{"action":"opened"}}""")
    out.close()
    HourFile(f.getAbsolutePath, ledger.toMap)
  }

  def ts(h: Hour, min: Int, sec: Int): String = f"${h.day}T${h.hour}%02d:$min%02d:$sec%02dZ"

  private def envelope(h: Hour, id: Long, tpe: String, actor: Long, repo: Long,
      created: String): String = {
    val org = orgOf(repo)
    val orgJson = if (org != 0) s""""org":{"id":$org,"login":"org$org"},""" else ""
    s"""{"id":"$id","type":"$tpe","actor":{"id":$actor,"login":"u$actor"},""" +
      s""""repo":{"id":$repo,"name":"o$repo/r$repo"},$orgJson"created_at":"$created","""
  }

  private val words = IndexedSeq("fix", "add", "remove", "update", "parser",
    "query", "index", "merge", "cache", "table", "schema", "import", "export",
    "the", "a", "for", "when", "with", "error", "crash", "slow", "memory")
  private def text(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" ")

  private def user(id: Long, tpe: String = "User"): String =
    s"""{"id":$id,"login":"u$id","type":"$tpe"}"""

  private def labelsJson(r: SplittableRandom): String =
    (0 until r.nextInt(4)).map(_ => labels(draw(labelCdf, r))).distinct
      .map(l => s"""{"name":"$l","color":"ededed","default":false,"description":"$l"}""")
      .mkString("[", ",", "]")

  private def issueJson(r: SplittableRandom, h: Hour, issueId: Long, author: Long,
      pull: Boolean): String = {
    val created = ts(h, 0, 0)
    val assignee = actorId(draw(actorCdf, r))
    val base = s""""id":$issueId,"number":${issueId % 100000},"title":"${text(r, 6)}",""" +
      s""""body":"${text(r, 20 + r.nextInt(40))}","labels":${labelsJson(r)},""" +
      s""""user":${user(author)},"author_association":"CONTRIBUTOR",""" +
      s""""assignee":${user(assignee)},"assignees":[${user(assignee)}],""" +
      s""""comments":${r.nextInt(30)},"created_at":"$created","updated_at":"$created""""
    if (!pull) s"{$base}"
    else {
      val merged = r.nextBoolean()
      val mergedBy = if (merged) s""","merged_by":${user(actorId(draw(actorCdf, r)))}""" else ""
      s"""{$base,"commits":${1 + r.nextInt(9)},"additions":${r.nextInt(900)},""" +
        s""""deletions":${r.nextInt(300)},"changed_files":${1 + r.nextInt(20)},""" +
        s""""merged":$merged,"merge_commit_sha":"${java.lang.Long.toHexString(issueId * 2654435761L)}"""" +
        s"""$mergedBy,"review_comments":${r.nextInt(10)},""" +
        s""""requested_reviewers":[${user(actorId(draw(actorCdf, r)))}],""" +
        s""""base":{"ref":"main","repo":{"language":"Scala"}},""" +
        s""""head":{"ref":"feat-${r.nextInt(100)}","repo":{"id":${issueId / 1000},"full_name":"o/r"}}}"""
    }
  }

  private def unknown(r: SplittableRandom, h: Hour, id: Long): String =
    envelope(h, id, unknownTypes(r.nextInt(unknownTypes.size)),
      actorId(draw(actorCdf, r)), repoId(draw(repoCdf, r)),
      ts(h, r.nextInt(60), r.nextInt(60))) + """"payload":{"ref":"main"}}"""

  /** A model event; with `like` it reuses that event's key (a later,
    * edited copy of the same row) and differs only outside the key.
    */
  private def event(r: SplittableRandom, h: Hour, id: Long, like: Option[Key]): Ev = {
    val tpe = like.map(_.tpe).getOrElse(types(draw(typeCdf, r))._1)
    val repo = like.map(_.repo).getOrElse(repoId(draw(repoCdf, r)))
    val actor = like.map(_.actor).getOrElse(actorId(draw(actorCdf, r)))
    val k0 = Key(h.month, orgOf(repo), repo, actor, tpe, "", 0, 0, 0, 0, 0, 0, 0)
    def obj(sel: Key => Long, bound: Int): Long =
      like.map(sel).getOrElse(repo * 1000 + 1 + r.nextInt(bound))
    def act(choices: String*): String =
      like.map(_.action).getOrElse(choices(r.nextInt(choices.size)))
    val (key, payload) = tpe match {
      case "PushEvent" =>
        val push = like.map(_.push).getOrElse(id * 3 + 1)
        val commits = (0 until 1 + r.nextInt(3)).map(_ =>
          s"""{"author":{"name":"u$actor","email":"u$actor@example.com"},"message":"${text(r, 8)}"}""")
        (k0.copy(push = push),
          s"""{"push_id":$push,"size":${commits.size},"distinct_size":${commits.size},""" +
            s""""ref":"refs/heads/main","head":"${java.lang.Long.toHexString(id * 40503L)}",""" +
            s""""commits":${commits.mkString("[", ",", "]")}}""")
      case "WatchEvent" =>
        (k0.copy(action = "started"), """{"action":"started"}""")
      case "ForkEvent" =>
        val forkee = repo * 100 + r.nextInt(100)
        (k0, s"""{"forkee":{"id":$forkee,"full_name":"u$actor/r$repo","owner":${user(actor)}}}""")
      case "IssuesEvent" =>
        val a = act("opened", "closed", "reopened", "labeled")
        val issue = obj(_.issue, 200)
        (k0.copy(action = a, issue = issue),
          s"""{"action":"$a","issue":${issueJson(r, h, issue, actor, pull = false)}}""")
      case "IssueCommentEvent" =>
        val issue = obj(_.issue, 200)
        val c = like.map(_.issueComment).getOrElse(id * 3 + 2)
        (k0.copy(action = "created", issue = issue, issueComment = c),
          s"""{"action":"created","issue":${issueJson(r, h, issue, actorId(draw(actorCdf, r)), pull = false)},""" +
            s""""comment":{"id":$c,"body":"${text(r, 15)}","user":${user(actor)},""" +
            s""""author_association":"MEMBER","created_at":"${ts(h, 1, 1)}","updated_at":"${ts(h, 1, 1)}"}}""")
      case "PullRequestEvent" =>
        val a = act("opened", "closed", "closed", "reopened")
        val pr = obj(_.issue, 100)
        (k0.copy(action = a, issue = pr),
          s"""{"action":"$a","number":${pr % 100000},"pull_request":${issueJson(r, h, pr, actor, pull = true)}}""")
      case "PullRequestReviewEvent" =>
        val pr = obj(_.issue, 100)
        val rv = like.map(_.pullReview).getOrElse(id * 3 + 2)
        (k0.copy(action = "created", issue = pr, pullReview = rv),
          s"""{"action":"created","review":{"id":$rv,"state":"approved","body":"${text(r, 5)}",""" +
            s""""author_association":"MEMBER"},"pull_request":${issueJson(r, h, pr, actorId(draw(actorCdf, r)), pull = true)}}""")
      case "PullRequestReviewCommentEvent" =>
        val pr = obj(_.issue, 100)
        val c = like.map(_.pullReviewComment).getOrElse(id * 3 + 2)
        val rv = like.map(_.pullReview).getOrElse(if (r.nextInt(4) == 0) 0L else id * 3 + 1)
        (k0.copy(action = "created", issue = pr, pullReview = rv, pullReviewComment = c),
          s"""{"action":"created","comment":{"id":$c,"pull_request_review_id":$rv,""" +
            s""""path":"src/f${r.nextInt(50)}.scala","position":${r.nextInt(200)},""" +
            s""""body":"${text(r, 12)}","user":${user(actor)},"author_association":"MEMBER",""" +
            s""""created_at":"${ts(h, 2, 2)}","updated_at":"${ts(h, 2, 2)}"},""" +
            s""""pull_request":${issueJson(r, h, pr, actorId(draw(actorCdf, r)), pull = true)}}""")
      case "ReleaseEvent" =>
        val rel = like.map(_.release).getOrElse(id * 3 + 2)
        (k0.copy(action = "published", release = rel),
          s"""{"action":"published","release":{"id":$rel,"tag_name":"v${r.nextInt(9)}.${r.nextInt(20)}",""" +
            s""""target_commitish":"main","name":"${text(r, 3)}","draft":false,"author":${user(actor)},""" +
            s""""prerelease":${r.nextInt(5) == 0},"created_at":"${ts(h, 3, 3)}","published_at":"${ts(h, 3, 4)}",""" +
            s""""body":"${text(r, 30)}","assets":[{"name":"bin.tar.gz","uploader":${user(actor)},""" +
            s""""content_type":"application/gzip","state":"uploaded","size":${r.nextInt(1 << 20)},""" +
            s""""download_count":${r.nextInt(1000)}}]}}""")
      case "CommitCommentEvent" =>
        val c = like.map(_.commitComment).getOrElse(id * 3 + 2)
        (k0.copy(action = "created", commitComment = c),
          s"""{"action":"created","comment":{"id":$c,"body":"${text(r, 10)}","path":"README.md",""" +
            s""""position":${r.nextInt(40)},"line":${r.nextInt(400)},""" +
            s""""commit_id":"${java.lang.Long.toHexString(id * 7919L)}","user":${user(actor)},""" +
            s""""author_association":"OWNER","created_at":"${ts(h, 4, 4)}","updated_at":"${ts(h, 4, 4)}"}}""")
    }
    Ev(key, id, envelope(h, id, tpe, actor, repo, ts(h, r.nextInt(60), r.nextInt(60))) +
      s""""payload":$payload}""")
  }

  /** Writes `hours` in parallel; the output does not depend on the pool. */
  def writeHours(dir: File, hours: Seq[Hour], perHour: Int, seed: Long,
      threads: Int): IndexedSeq[HourFile] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads max 1)
    try hours.map(h => pool.submit(new java.util.concurrent.Callable[HourFile] {
      def call(): HourFile = writeHour(dir, h, perHour, seed)
    })).toIndexedSeq.map(_.get())
    finally pool.shutdown()
  }

  /** Folds hour ledgers in import order: for each key, the highest id wins. */
  def fold(into: mutable.HashMap[Key, Long], files: Iterable[HourFile]): Unit =
    files.foreach(_.ledger.foreach { case (k, id) =>
      if (into.getOrElse(k, 0L) < id) into(k) = id
    })

  def writeLedger(f: File, ledger: collection.Map[Key, Long]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(ledgerHeader)
      ledger.foreach { case (k, id) => w.print(k.csv); w.print(','); w.println(id) }
    } finally w.close()
  }
}
