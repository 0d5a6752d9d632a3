package graft.core

/** Pure prefix logic — the reference's hive-style wildcarding and
  * hierarchical config resolution, re-expressed as total Scala functions.
  *
  * Reference: `/root/reference/common.js:28-67` (shortenPrefix,
  * transformHiveStylePrefix, getWildcardPrefixSuppressionList) and
  * `/root/reference/index.js:131-169` (resolveConfig loop). Unlike the
  * reference, resolution here is O(depth) map lookups against a broadcast
  * config map — no network round-trips per shortening step.
  */
object Prefix {

  /** Wildcard-expansion suppression — parsed from a config string the way
    * the reference parses `SuppressWildcardExpansionPrefixList`
    * (`common.js:56-67`): `"*"` suppresses everywhere; otherwise a comma
    * and/or space separated list of exact prefixes.
    */
  sealed trait Suppression
  case object SuppressAll extends Suppression
  case object SuppressNone extends Suppression
  final case class SuppressPrefixes(prefixes: Set[String]) extends Suppression

  def parseSuppressionList(value: Option[String]): Suppression = value match {
    case None | Some("") => SuppressNone
    case Some("*")       => SuppressAll
    case Some(s)         => SuppressPrefixes(s.split("[ ,]+").filter(_.nonEmpty).toSet)
  }

  private val HiveToken = "=(.*)".r

  /** `bucket/z=200/y=whatever/dude` → `bucket/z=WILD/y=WILD/dude` (WILD
    * being the star char) unless suppressed (`common.js:36-54`). Empty path
    * tokens pass through unchanged. The replacement regex is `=(.*)`
    * applied per slash-token, exactly as the reference does.
    */
  def transformHiveStylePrefix(searchKey: String, suppression: Suppression = SuppressNone): String =
    suppression match {
      case SuppressAll => searchKey
      case SuppressPrefixes(ps) if ps.contains(searchKey) => searchKey
      case _ =>
        searchKey.split("/", -1).map { tok =>
          HiveToken.replaceAllIn(tok, "=*")
        }.mkString("/")
    }

  /** Drop the last `/`-segment (`common.js:28-34`).
    * `"a/b/c"` → `"a/b"`; `"a"` → `""`.
    */
  def shortenPrefix(prefix: String): String = {
    val tokens = prefix.split("/", -1)
    tokens.dropRight(1).mkString("/")
  }

  /** The chain of candidate prefixes from most to least specific, as the
    * reference's resolveConfig loop would try them (`index.js:131-169`).
    * `"b/a/c"` → `List("b/a/c", "b/a", "b")`.
    */
  def prefixChain(prefix: String): List[String] = {
    val b = List.newBuilder[String]
    var p = prefix
    while (p.nonEmpty) {
      b += p
      p = shortenPrefix(p)
    }
    b.result()
  }

  /** Longest-prefix-wins config resolution against an in-memory (broadcast)
    * config map. Returns the matched prefix and its config.
    */
  def resolve[T](prefix: String, configs: Map[String, T]): Option[(String, T)] =
    prefixChain(prefix).collectFirst { case p if configs.contains(p) => p -> configs(p) }

  /** Build the config search key for a file event: bucket + transformed
    * directory part of the object key (`index.js:1596-1601`).
    */
  def searchKey(bucket: String, key: String, suppression: Suppression = SuppressNone): String = {
    val dir = if (key.contains("/")) key.substring(0, key.lastIndexOf('/')) else ""
    val raw = if (dir.isEmpty) bucket else s"$bucket/$dir"
    transformHiveStylePrefix(raw, suppression)
  }

  /** Filename admission filter with the reference's fail-open semantics
    * (`index.js:212-238`, SURVEY §7.5.3): a malformed regex or any
    * non-fatal evaluation error ⇒ treated as a MATCH (load rather than
    * silently drop). Fatal errors and interrupts propagate. `None`
    * regex ⇒ match.
    */
  def filenameMatches(key: String, filterRegex: Option[String]): Boolean =
    filterRegex match {
      case None => true
      case Some(rx) =>
        try java.util.regex.Pattern.compile(rx).matcher(key).find()
        catch { case scala.util.control.NonFatal(_) => true }
    }
}
