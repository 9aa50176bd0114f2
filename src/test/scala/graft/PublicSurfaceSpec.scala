package graft

import java.nio.file.Path

import org.scalatest.funsuite.AnyFunSuite

/** Every public entry point of the engine packages is reached from the
  * engine itself — a registered query, pipeline, main or demo under
  * `src/main` — or from the benchmark harness under `perfbench/src`.
  * Code that only specs call is either made a `private[pkg]` seam of a
  * registered path or deleted. The allowlist holds the few entry points
  * kept without a main caller; each names the SURVEY row that maps it
  * to reference behaviour (or to the warehouse surface ROADMAP item 6
  * redesigns), and an entry that gains a main caller is stale. */
class PublicSurfaceSpec extends AnyFunSuite {
  import PublicSurfaceSpec._

  private val Item6 = "ROADMAP item 6 redesigns this read/maintenance surface"

  /** `Owner.member` (or a bare top-level type) → its SURVEY row. */
  private val Allowlist: Map[String, String] = Map(
    "Parsers.teamRows" -> "S7 teams scrape",
    "Parsers.matchupRows" -> "S9 matchup stats scrape",
    "Parsers.pivotStats" -> "S9 matchup stats scrape (F20)",
    "Pipeline.beyondWatermark" -> "A1 scalar MAX watermark",
    "Warehouse.secret" -> "S2 projected/filtered scan (secrets lookup)",
    "Catalog.listTables" -> "S3 catalog existence",
    "HttpFetcher" -> "Real-socket fetch ladder",
    "Warehouse.vacuum" -> s"Warehouse maintenance, atomic form; $Item6",
    "Warehouse.readBetween" -> s"Zone maps; $Item6",
    "Warehouse.compactZOrder" -> s"Z-order compaction; $Item6",
    "Warehouse.readAppendedBetween" -> s"Change data capture; $Item6")

  /** `src/main/scala/graft/<pkg>/...` for the pinned packages. */
  private lazy val engine: List[Path] = MainSources.files.filter { p =>
    p.getNameCount > 5 && Packages(p.getName(4).toString)
  }

  private lazy val callerCode: Seq[String] =
    (MainSources.files ++ MainSources.perfbenchFiles).map(MainSources.code)

  /** Public definitions of the engine packages with no main caller. */
  private lazy val uncalled: Set[String] = engine.flatMap { p =>
    publicDefinitions(MainSources.skeleton(p))
      .filter(d => references(d.name, callerCode) == 0).map(_.key)
  }.toSet

  test("the scanner sees top-level types and public members, not locals or private helpers") {
    val src =
      """package graft.ops
        |object Ops {
        |  val all: Seq[Int] = Seq(1)
        |  def run(x: Int): Int = { val local = x; def inner = local; inner }
        |  private def helper: Int = 1
        |  private[ops] def seam: Int = helper
        |  override def toString: String = "{ def fake = 1 }"
        |  final case class Row(a: Int)
        |  object Nested { def deep: Int = 2 }
        |}
        |final case class Index(n: Int) {
        |  lazy val size: Int = n
        |  def apply(i: Int): Int = i
        |}
        |private object Hidden { def h: Int = 0 }
        |""".stripMargin
    val found = publicDefinitions(MainSources.strip(src, literals = false))
      .map(_.key).toSet
    assert(found == Set("Ops", "Ops.all", "Ops.run", "Ops.deep", "Index",
      "Index.size"))
    val calls = Seq(MainSources.strip(
      "object A { def run = 1 }\nobject B { val x = A.run /* Index */ }",
      literals = true))
    assert(references("run", calls) == 1)
    assert(references("Index", calls) == 0)
  }

  test("every public definition in graft.{ops,streaming,pipeline,ingest,sources} " +
    "has a caller in src/main or perfbench/src, or an allowlisted SURVEY row") {
    assert(engine.size > 30)
    val missing = (uncalled -- Allowlist.keySet).toSeq.sorted
    assert(missing.isEmpty,
      s"public definitions only specs call: ${missing.mkString(", ")} — " +
        "register them (give them a main caller), make them a private[pkg] " +
        "seam of a registered path, or delete them")
  }

  test("no allowlisted name has a caller in src/main or perfbench/src") {
    val stale = (Allowlist.keySet -- uncalled).toSeq.sorted
    assert(stale.isEmpty,
      s"allowlist entries that now have a main caller or no definition: " +
        s"${stale.mkString(", ")} — remove them from the allowlist")
  }
}

object PublicSurfaceSpec {

  /** The engine packages whose public surface is pinned. */
  val Packages: Set[String] =
    Set("ops", "streaming", "pipeline", "ingest", "sources")

  /** A public definition: a top-level type (`key` = its name) or a
    * member `def`/`val` of one (`key` = `Type.member`). */
  final case class Definition(key: String, name: String)

  private val Def = (
    """(?<![\w$])((?:(?:(?:private|protected)(?:\[\w+\])?|override|final|""" +
      """sealed|abstract|case|implicit|lazy)\s+)*)""" +
      """(def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)""").r

  /** A definition site of `name`, to exclude from its references. */
  private def defSite(name: String) =
    ("""(?<![\w$])(?:def|val|var|class|object|trait|type)\s+""" +
      java.util.regex.Pattern.quote(name) + """(?![\w$])""").r

  /** Public definitions in a [[MainSources.skeleton]]: top-level types
    * that are not private, and the non-private, non-override,
    * non-implicit `def`/`val` members of their public template bodies
    * (nested objects included). Locals inside a method or block body,
    * and anything inside parentheses (class parameters, arguments), are
    * not members; `apply`/`unapply` are called without their name. */
  def publicDefinitions(skeleton: String): Seq[Definition] = {
    final case class Scope(template: Boolean, name: String, hidden: Boolean)
    final case class Header(name: String, hidden: Boolean, parens: Int)
    val types = Set("class", "object", "trait")
    var scopes = List.empty[Scope]
    var header: Option[Header] = None // a type whose body `{` is pending
    var parens = 0
    val sites = Def.findAllMatchIn(skeleton).map(m => m.start -> m).toMap
    val out = Seq.newBuilder[Definition]
    var i = 0
    while (i < skeleton.length) sites.get(i) match {
      case Some(m) if parens == 0 =>
        val mods = m.group(1)
        val (kind, name) = (m.group(2), m.group(3))
        val hidden = mods.contains("private") || mods.contains("protected") ||
          scopes.exists(_.hidden)
        if (scopes.forall(_.template) && !hidden) {
          if (types(kind) && scopes.isEmpty) out += Definition(name, name)
          else if ((kind == "def" || kind == "val") && scopes.nonEmpty &&
              !mods.contains("override") && !mods.contains("implicit") &&
              name != "apply" && name != "unapply")
            out += Definition(s"${scopes.last.name}.$name", name)
        }
        header = if (types(kind)) Some(Header(name, hidden, parens)) else None
        i = m.end
      case _ =>
        skeleton(i) match {
          case '(' => parens += 1
          case ')' => parens -= 1
          case '{' =>
            scopes = (header match {
              case Some(h) if h.parens == parens =>
                header = None
                Scope(template = true, h.name, h.hidden)
              case _ => Scope(template = false, "", hidden = false)
            }) :: scopes
          case '}' => scopes = scopes.drop(1)
          case _ =>
        }
        i += 1
    }
    out.result()
  }

  /** Occurrences of `name` as a whole identifier in `sources`, not
    * counting any place that defines a member or type of that name. */
  def references(name: String, sources: Seq[String]): Int = {
    val use = ("""(?<![\w$])""" + java.util.regex.Pattern.quote(name) +
      """(?![\w$])""").r
    sources.map { src =>
      val defs = defSite(name).findAllMatchIn(src).map(_.end - name.length).toSet
      use.findAllMatchIn(src).count(m => !defs(m.start))
    }.sum
  }
}
