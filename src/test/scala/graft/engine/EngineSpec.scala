package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import NamePart._

/** Truth tables for the consistency rule engine, one test per branch of
  * MatchResult.isConsistent / canBecomeConsistent / the Matched rules /
  * ClusterProfile.merge (reference: MatchResult.java:157-214,298-324,
  * ClusterProfile.java:44-48,91-104). These fixtures ARE the F1 contract:
  * the Spark pipeline matches the reference iff these decisions match. */
class EngineSpec extends AnyFunSuite {

  private val h = Hierarchy.default

  /** Build toks from "token:part" specs; dot suffix marks before-dot. */
  def toks(specs: String*): Seq[Tok] = specs.zipWithIndex.map { case (s, i) =>
    val Array(t0, p) = s.split(":")
    val beforeDot = t0.endsWith(".")
    val t = t0.stripSuffix(".")
    new Tok(t, i, t.length == 1, beforeDot, NamePart.fromString(p))
  }

  def profileOf(specs: String*): ClusterProfile = ClusterProfile.fromToks(toks(specs: _*))

  def check(profile: ClusterProfile, ref: Seq[Tok]): (Boolean, Boolean, MatchResult) = {
    val r = profile.matchRef(h, ref)
    val c = r.isConsistent
    val rep = !c && r.canBecomeConsistent
    (c, rep, r)
  }

  test("identical names are consistent") {
    val (c, _, _) = check(profileOf("john:FIRSTNAME", "smith:LASTNAME"),
      toks("john:FIRSTNAME", "smith:LASTNAME"))
    assert(c)
  }

  test("token-subset (dropped middle) is consistent") {
    val (c, _, _) = check(
      profileOf("john:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME"),
      toks("john:FIRSTNAME", "smith:LASTNAME"))
    assert(c)
  }

  test("abbreviated first initial matches full first at level 3") {
    val (c, _, _) = check(
      profileOf("john:FIRSTNAME", "smith:LASTNAME"),
      toks("j.:FIRSTNAME", "smith:LASTNAME"))
    assert(c)
  }

  test("two different abbreviations do not match (abbr must match at token level)") {
    val (c, rep, _) = check(
      profileOf("j:FIRSTNAME", "smith:LASTNAME"),
      toks("i:FIRSTNAME", "smith:LASTNAME"))
    assert(!c && !rep)
  }

  test("same abbreviation matches at token level") {
    val (c, _, _) = check(
      profileOf("j:FIRSTNAME", "smith:LASTNAME"),
      toks("j:FIRSTNAME", "smith:LASTNAME"))
    assert(c)
  }

  test("two full tokens may not match only at first-letter level") {
    // mark vs marie: same initial, different soundex -> only L3; both full
    val (c, rep, _) = check(
      profileOf("mark:FIRSTNAME", "smith:LASTNAME"),
      toks("marie:FIRSTNAME", "smith:LASTNAME"))
    assert(!c && !rep)
  }

  test("before-dot exemption allows full-token first-letter match") {
    // trailing-dot truncations are treated as abbreviation-like
    val (c, _, _) = check(
      profileOf("mark.:FIRSTNAME", "smith:LASTNAME"),
      toks("marie.:FIRSTNAME", "smith:LASTNAME"))
    assert(c)
  }

  test("phonetic (level-2) lastname match is consistent") {
    val (c, _, _) = check(
      profileOf("john:FIRSTNAME", "smith:LASTNAME"),
      toks("john:FIRSTNAME", "smyth:LASTNAME"))
    assert(c)
  }

  test("lastname matched above level 2 is inconsistent") {
    // s (abbr) matches smith only at level 3 -> LASTNAME level cap fires
    val (c, rep, _) = check(
      profileOf("john:FIRSTNAME", "smith:LASTNAME"),
      toks("john:FIRSTNAME", "s:LASTNAME"))
    assert(!c && !rep)
  }

  test("nickname (level-2 NCK) first-name match is consistent") {
    val (c, _, _) = check(
      profileOf("james:FIRSTNAME", "smith:LASTNAME"),
      toks("jim:FIRSTNAME", "smith:LASTNAME"))
    assert(c)
  }

  test("unmatched FIRSTNAME profile entry is inconsistent") {
    val (c, rep, _) = check(
      profileOf("john:FIRSTNAME", "smith:LASTNAME"),
      toks("smith:LASTNAME"))
    assert(!c && !rep)
  }

  test("unmatched MIDDLENAME entry with unmatched same-part ref token is inconsistent") {
    val (c, rep, _) = check(
      profileOf("john:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME"),
      toks("john:FIRSTNAME", "ray:MIDDLENAME", "smith:LASTNAME"))
    assert(!c && !rep)
  }

  test("single-letter ref token cross-matches same-initial entries at level 3") {
    // m matches both mark (F, same part) and marie (M, cross) at level 3:
    // the unmatched-entry rule is disarmed because marie has a match.
    val (c, _, _) = check(
      profileOf("mark:FIRSTNAME", "marie:MIDDLENAME", "hill:LASTNAME"),
      toks("m:FIRSTNAME", "faith:MIDDLENAME", "hill:LASTNAME"))
    assert(c)
  }

  test("reversed first/last repairs via reversal and commits retagging") {
    val ref = toks("smith:FIRSTNAME", "john:LASTNAME") // tagging of 'smith john'
    val (c, rep, _) = check(profileOf("john:FIRSTNAME", "smith:LASTNAME"), ref)
    assert(!c && rep)
    assert(ref(0).namePart === LASTNAME)
    assert(ref(1).namePart === FIRSTNAME)
  }

  test("reversal leaves middle tokens untagged (NONE), faithfully") {
    // tagging of 'smith lee john': john (max pos) LASTNAME, smith FIRSTNAME
    val ref = toks("smith:FIRSTNAME", "lee:MIDDLENAME", "john:LASTNAME")
    val profile = profileOf("john:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME")
    val r = profile.matchRef(h, ref)
    assert(!r.isConsistent && r.canBecomeConsistent)
    assert(ref(1).namePart === NONE)
  }

  test("shifted-left repairs the jr-as-lastname mis-tag") {
    // 'john smith jr' initial tagging: jr=LASTNAME, smith=MIDDLENAME
    val ref = toks("john:FIRSTNAME", "smith:MIDDLENAME", "jr:LASTNAME")
    val (c, rep, _) = check(profileOf("john:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME"), ref)
    assert(!c && rep)
    assert(ref.map(_.namePart) === Seq(FIRSTNAME, LASTNAME, SUFFIX))
  }

  test("merge inserts unmatched tokens order-preservingly") {
    val profile = profileOf("john:FIRSTNAME", "smith:LASTNAME")
    val ref = toks("john:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME")
    val r = profile.matchRef(h, ref)
    assert(r.isConsistent)
    profile.merge(r)
    assert(profile.entries.map(_.element.value) === Seq("john", "lee", "smith"))
    assert(profile.entries.map(_.order) === Seq(0, 1, 2))
  }

  test("merge does NOT upgrade abbreviated profile entries (reference no-op)") {
    val profile = profileOf("j:FIRSTNAME", "smith:LASTNAME")
    val ref = toks("john:FIRSTNAME", "smith:LASTNAME")
    val r = profile.matchRef(h, ref)
    assert(r.isConsistent)
    profile.merge(r)
    assert(profile.entries.map(_.element.value) === Seq("j", "smith"))
  }

  test("greedy clusters a simple entity component deterministically") {
    def ref(id: Long, w: Long, specs: String*) = Greedy.Ref(id, specs.mkString(" "), w, toks(specs: _*).toArray)
    val refs = Seq(
      ref(1, 9, "john:FIRSTNAME", "smith:LASTNAME"),
      ref(2, 3, "john:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME"),
      ref(3, 2, "j.:FIRSTNAME", "lee:MIDDLENAME", "smith:LASTNAME"),
      ref(4, 1, "mary:FIRSTNAME", "smith:LASTNAME"))
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L))
    val out = Greedy.cluster(refs, edges, h)._1.toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    assert(out(4L) === 4L) // mary != john: inconsistent, seeds its own
  }
}
