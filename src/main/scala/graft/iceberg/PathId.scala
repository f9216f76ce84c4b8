package graft.iceberg

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.regexp_replace

/** The identity of a file path: the one rule by which two spellings name
  * the same file. Manifests, delete files, Hadoop listings and Spark may
  * spell a local file `/p`, `file:/p` or `file:///p`; those are one id
  * (`/p`). Every other scheme and authority is part of the id, so
  * `s3://b/k`, `s3://c/k` and `/k` are three files. A run of slashes
  * inside the path is one slash, as Hadoop's `Path` reads it (a table
  * directory given with a trailing `/` spells its files `…/t//data/…`).
  * Nothing is URL-decoded: manifest paths are raw strings and may hold a
  * literal `%`.
  *
  * [[apply]] and its Column twin [[col]] apply the same replacements, so
  * a driver-side set and an executor-side column always agree. */
object PathId {
  private val Rules: Seq[(String, String)] = Seq(
    // `file:` then a single-slash path, or `file://` with an empty authority
    "^file:(?=/[^/])|^file://(?=/)" -> "",
    // slash runs after the authority (a `scheme://` separator follows `:`)
    "(?<=[^:/])/{2,}" -> "/")
  private val Compiled = Rules.map { case (re, to) => (Pattern.compile(re), to) }

  def apply(p: String): String =
    if (!p.startsWith("file:") && !p.contains("//")) p
    else Compiled.foldLeft(p) { case (s, (re, to)) => re.matcher(s).replaceAll(to) }

  def col(c: Column): Column =
    Rules.foldLeft(c) { case (acc, (re, to)) => regexp_replace(acc, re, to) }

  private val SchemeAuthority = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?")

  /** The path component of the id (`s3://b/k`, `s3a://b/k`, `/k` all give
    * `/k`). Expiry and the orphan sweep diff on it, so a spelling the id
    * does not unify (`s3` vs `s3a`, a dropped port) keeps the file. */
  def component(p: String): String = SchemeAuthority.matcher(apply(p)).replaceFirst("")
}
