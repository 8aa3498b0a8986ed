package graft.engine

import scala.collection.mutable

/** Pure matching engine — a from-scratch rebuild of the reference's
  * name-part consistency model (logic/matching/ClusterProfile.java,
  * MatchResult.java) over plain Scala data. No Spark types: this runs
  * embarrassingly parallel inside per-component `flatMapGroups`
  * (SURVEY.md C-1/C-3..C-7).
  *
  * Semantics deliberately preserved from the reference, including its
  * quirks (each cited):
  *  - name parts may become "none" (0) after a committed reversed-F/L
  *    repair leaves non-F/L tokens untagged
  *    (MatchResult.getReversedFirstnameAndLastname, MatchResult.java:124-139);
  *  - the abbreviation-upgrade in merge mutates only the discarded Matched
  *    wrapper, never the profile — i.e. it is a no-op
  *    (ClusterProfile.merge, ClusterProfile.java:100-101);
  *  - merge inserts unmatched tokens at (max matched-profile order before
  *    it) + 1, shifting later orders (ClusterProfile.java:44-48, 91-97).
  *
  * Determinism: wherever the reference iterates hash maps/sets (its own
  * order-sensitivity experiment shows std ~2.7e-4, MainSortSensitivity),
  * we fix a total order: insertion order for maps, (level, cross-part,
  * token pos) for best-match selection.
  */
object NamePart {
  val NONE = 0
  val PREFIX = 1
  val FIRSTNAME = 2
  val MIDDLENAME = 3
  val LASTNAME = 4
  val SUFFIX = 5

  /** TokenE.NamePart.nextRankedNamePart (TokenE.java:33-36). */
  def next(p: Int): Int = if (p == NONE) NONE else if (p >= SUFFIX) SUFFIX else p + 1

  /** TokenE.NamePart.previousRankedNamePart (TokenE.java:38-41). */
  def prev(p: Int): Int = if (p == NONE) NONE else if (p <= PREFIX) PREFIX else p - 1

  def fromString(s: String): Int = s match {
    case "PREFIX" => PREFIX
    case "FIRSTNAME" => FIRSTNAME
    case "MIDDLENAME" => MIDDLENAME
    case "LASTNAME" => LASTNAME
    case "SUFFIX" => SUFFIX
    case _ => NONE
  }
}

/** A token of a mention with its features (REF_TKN TokenE analogue;
  * dao/edge/TokenE.java). `namePart` is mutable: the self-training repair
  * commits retagged parts (MatchResult.setTokenEsNamesPart). Identity
  * (eq) is the match identity, like the reference's object identity. */
final class Tok(
    val token: String,
    val pos: Int,
    val isAbbr: Boolean,
    val isBeforeDot: Boolean,
    var namePart: Int) {
  override def toString = s"Tok($token,$pos,np=$namePart)"
}

/** An element-hierarchy key: (level, kind, value). Kinds: 'T' token (1),
  * 'S' phonetic group (2), 'N' nickname group (2), 'A' first-letter group
  * (3) — the closed vertex type system of dao/vertex/V.java:19-27. */
final case class ElementKey(level: Int, kind: Char, value: String)

/** The element hierarchy (levels 1..3) as pure functions; replaces the
  * upstream-precomputed TKN_SIM / TKN_NCK / SIM_ABR edges. */
final class Hierarchy(
    coder: String => String,
    nickGroup: Map[String, String]) extends Serializable {

  val maxLevel = 3

  def tokenKey(t: String): ElementKey = ElementKey(1, 'T', t)

  /** V.getOutNextLevelV (dao/vertex/V.java:227-234): one level up; NCK
    * groups have no outgoing edges so they vanish above level 2. */
  def lift(k: ElementKey): Seq[ElementKey] = k.kind match {
    case 'T' =>
      val sim = ElementKey(2, 'S', coder(k.value))
      nickGroup.get(k.value) match {
        case Some(g) => Seq(sim, ElementKey(2, 'N', g))
        case None => Seq(sim)
      }
    case 'S' => Seq(ElementKey(3, 'A', k.value.take(1).toLowerCase))
    case _ => Seq.empty
  }

  /** ClusterProfile.outElementVsAtLeast (ClusterProfile.java:115-135):
    * lift every key below minLevel up to it, merging value sets when keys
    * collapse. Ordered maps keep iteration deterministic. */
  def liftAtLeast[T](
      m: mutable.LinkedHashMap[ElementKey, mutable.LinkedHashSet[T]],
      minLevel: Int): mutable.LinkedHashMap[ElementKey, mutable.LinkedHashSet[T]] = {
    val out = mutable.LinkedHashMap.empty[ElementKey, mutable.LinkedHashSet[T]]
    for ((k, vs) <- m) {
      if (k.level >= minLevel) {
        out.getOrElseUpdate(k, mutable.LinkedHashSet.empty[T]) ++= vs
      } else {
        var keys: Seq[ElementKey] = Seq(k)
        var lvl = k.level
        while (lvl < minLevel) { keys = keys.flatMap(lift); lvl += 1 }
        for (k2 <- keys) out.getOrElseUpdate(k2, mutable.LinkedHashSet.empty[T]) ++= vs
      }
    }
    out
  }
}

object Hierarchy {
  /** Default: Soundex coder + the shared nickname groups. One instance per
    * JVM (executor) — hot loops must not rebuild the nickname map per row. */
  lazy val default: Hierarchy =
    new Hierarchy(Phonetics.soundex, graft.synth.NamePools.nicknameGroup)
  lazy val metaphone: Hierarchy =
    new Hierarchy(s => Phonetics.metaphone(s), graft.synth.NamePools.nicknameGroup)
  lazy val nysiis: Hierarchy =
    new Hierarchy(s => Phonetics.nysiis(s), graft.synth.NamePools.nicknameGroup)
  lazy val onca: Hierarchy =
    new Hierarchy(s => Phonetics.onca(s), graft.synth.NamePools.nicknameGroup)
  lazy val statcan: Hierarchy =
    new Hierarchy(s => Phonetics.statcan(s), graft.synth.NamePools.nicknameGroup)
}

/** ClusterProfile.Entry (ClusterProfile.java:146-232); identity equality
  * like the reference. */
final class ProfileEntry(
    var element: ElementKey,
    var isAbbr: Boolean,
    var isBeforeDot: Boolean,
    var namePart: Int,
    var order: Int) {
  override def toString = s"Entry(${element.value},np=$namePart,ord=$order)"
}

object ProfileEntry {
  def apply(t: Tok): ProfileEntry =
    new ProfileEntry(ElementKey(1, 'T', t.token), t.isAbbr, t.isBeforeDot, t.namePart, t.pos)
}

/** MatchResult.Matched (MatchResult.java:218-339). */
final class Matched(var entry: ProfileEntry, val tok: Tok, val key: ElementKey) {

  /** Two full (non-abbreviated, non-dotted) tokens may not match only at
    * the first-letter level (MatchResult.java:298-302). */
  def isNonAbbrsMatchedInAbbrLevel: Boolean =
    key.level == 3 && !tok.isAbbr && !entry.isAbbr &&
      !tok.isBeforeDot && !entry.isBeforeDot

  /** Two abbreviations must match exactly at token level
    * (MatchResult.java:311-314). */
  def isAbbrsMatchedInNonTokenLevel: Boolean =
    key.level > 1 && tok.isAbbr && entry.isAbbr
}

/** MatchResult (MatchResult.java). `parts` arrays are indexed by token
  * order with 0 = none (reference null). */
final class MatchResult(val profile: ClusterProfile, refToks: Seq[Tok]) {
  import NamePart._

  val sortedToks: IndexedSeq[Tok] = refToks.sortBy(_.pos).toIndexedSeq
  val matched = mutable.ArrayBuffer.empty[Matched]

  def notMatchedToks: Seq[Tok] =
    sortedToks.filterNot(t => matched.exists(_.tok eq t))

  def currentParts: Array[Int] = sortedToks.map(_.namePart).toArray

  def isConsistent: Boolean = isConsistent(currentParts)

  /** MatchResult.isConsistent(parts) (MatchResult.java:166-192).
    * Algorithmically identical to the reference; the per-entry match list
    * and the unmatched-token list are each computed once per call instead
    * of per entry (pure hoisting — they are invariant within a call). */
  def isConsistent(parts: Array[Int]): Boolean = {
    val byEntry = new java.util.IdentityHashMap[ProfileEntry, mutable.ArrayBuffer[Matched]]()
    matched.foreach { m =>
      var buf = byEntry.get(m.entry)
      if (buf == null) { buf = mutable.ArrayBuffer.empty[Matched]; byEntry.put(m.entry, buf) }
      buf += m
    }
    val notMatched = notMatchedToks
    for (pe <- profile.entries) {
      val ms = byEntry.get(pe)
      val best =
        if (ms == null) None
        else ms.sortBy(m => (m.key.level,
          if (pe.namePart == parts(m.tok.pos)) 0 else 1,
          m.tok.pos))
          .headOption
      best match {
        case None =>
          if (pe.namePart == LASTNAME || pe.namePart == FIRSTNAME) return false
          // Java null == null is true, so NONE == NONE counts as same part
          // (MatchResult.java:176).
          if (notMatched.exists(t => parts(t.pos) == pe.namePart))
            return false
        case Some(m) if pe.namePart != NONE && pe.namePart == parts(m.tok.pos) =>
          if (pe.namePart == LASTNAME) {
            if (m.key.level > 2) return false
          } else if (m.isNonAbbrsMatchedInAbbrLevel) return false
        case Some(_) =>
          if (pe.namePart == LASTNAME || pe.namePart == FIRSTNAME) return false
      }
    }
    true
  }

  /** getShiftedLeftNameParts (MatchResult.java:94-104); bounds-guarded. */
  def shiftedLeftParts: Option[Array[Int]] = {
    val n = sortedToks.length
    val parts = new Array[Int](n)
    var started = false
    var i = 0
    while (i < n) {
      val p = sortedToks(i).namePart
      if (p == MIDDLENAME && i + 1 < n && sortedToks(i + 1).namePart == LASTNAME)
        started = true
      parts(i) = if (started) next(p) else p
      i += 1
    }
    if (started) Some(parts) else None
  }

  /** getReversedFirstnameAndLastname (MatchResult.java:124-139): swaps F/L
    * and leaves every other position untagged (reference null). */
  def reversedFLParts: Option[Array[Int]] = {
    val n = sortedToks.length
    val parts = new Array[Int](n) // NONE-initialized
    var hasL = false; var hasF = false
    var i = 0
    while (i < n) {
      sortedToks(i).namePart match {
        case LASTNAME => parts(i) = FIRSTNAME; hasL = true
        case FIRSTNAME => parts(i) = LASTNAME; hasF = true
        case _ =>
      }
      i += 1
    }
    if (hasL && hasF) Some(parts) else None
  }

  def commitParts(parts: Array[Int]): Unit = {
    var i = 0
    while (i < sortedToks.length) { sortedToks(i).namePart = parts(i); i += 1 }
  }

  /** canBecomeConsistent (MatchResult.java:194-214): shifted-left first,
    * then reversed F/L; commits the repaired tagging on success
    * (self-training). The shifted-right variant is commented out in the
    * reference and therefore absent here. */
  def canBecomeConsistent: Boolean = {
    shiftedLeftParts match {
      case Some(p) if isConsistent(p) => commitParts(p); return true
      case _ =>
    }
    reversedFLParts match {
      case Some(p) if isConsistent(p) => commitParts(p); true
      case _ => false
    }
  }
}

/** ClusterProfile (ClusterProfile.java): ordered entry list seeded from a
  * mention's tokens, grown by merge. */
final class ClusterProfile(val entries: mutable.ArrayBuffer[ProfileEntry]) {

  /** addEntry(entry, index) (ClusterProfile.java:44-48). */
  def addEntry(e: ProfileEntry, index: Int): Unit = {
    e.order = index
    entries.foreach(x => if (x.order >= index) x.order += 1)
    entries.insert(math.min(index, entries.length), e)
  }

  /** ClusterProfile.match (ClusterProfile.java:58-89): 3-level hierarchical
    * bipartite matching with same-name-part removal between levels. */
  def matchRef(h: Hierarchy, refToks: Seq[Tok]): MatchResult = {
    var refMap = mutable.LinkedHashMap.empty[ElementKey, mutable.LinkedHashSet[Tok]]
    refToks.sortBy(_.pos).foreach { t =>
      refMap.getOrElseUpdate(h.tokenKey(t.token), mutable.LinkedHashSet.empty[Tok]) += t
    }
    var profileMap = mutable.LinkedHashMap.empty[ElementKey, mutable.LinkedHashSet[ProfileEntry]]
    entries.foreach { e =>
      profileMap.getOrElseUpdate(e.element, mutable.LinkedHashSet.empty[ProfileEntry]) += e
    }

    val result = new MatchResult(this, refToks)
    var level = 1
    while (level <= h.maxLevel) {
      refMap = h.liftAtLeast(refMap, level)
      profileMap = h.liftAtLeast(profileMap, level)

      val toRemove = mutable.ArrayBuffer.empty[Matched]
      for ((key, toks) <- refMap if profileMap.contains(key);
           entry <- profileMap(key); tok <- toks) {
        val m = new Matched(entry, tok, key)
        if (!m.isNonAbbrsMatchedInAbbrLevel && !m.isAbbrsMatchedInNonTokenLevel) {
          result.matched += m
          if (entry.namePart == tok.namePart) toRemove += m
        }
      }
      for (me <- toRemove) {
        refMap.get(me.key).foreach { s =>
          if (s.size > 1) s -= me.tok else refMap -= me.key
        }
        profileMap.get(me.key).foreach { s =>
          if (s.size > 1) s -= me.entry else profileMap -= me.key
        }
      }
      level += 1
    }
    result
  }

  /** ClusterProfile.merge (ClusterProfile.java:91-104). The reference's
    * abbreviation upgrade rewires only the transient Matched object, so it
    * has no effect on the profile and is intentionally omitted. */
  def merge(result: MatchResult): Unit = {
    for (tok <- result.notMatchedToks) {
      val entry = ProfileEntry(tok)
      val index = result.matched.iterator
        .filter(m => m.tok.pos < entry.order)
        .map(_.entry.order)
        .maxOption.getOrElse(0) + 1
      addEntry(entry, index)
    }
  }
}

object ClusterProfile {
  /** RefV.buildClusterProfile (dao/vertex/RefV.java:60-64). */
  def fromToks(toks: Seq[Tok]): ClusterProfile =
    new ClusterProfile(mutable.ArrayBuffer.from(toks.sortBy(_.pos).map(ProfileEntry(_))))
}
