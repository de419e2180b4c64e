package graft.core

import graft.model.{MatchType, Matcher}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles label matchers into native Catalyst predicates over a
  * `map<string,string>` labels column — no UDFs, so the predicates fold
  * into whole-stage codegen and are eligible for pushdown/pruning.
  *
  * Semantics (reference: storages/base/base.go:90-138):
  *  - a missing label is equivalent to the empty string (`emptyLabel`);
  *  - `=~` / `!~` regexes are fully anchored (the reference compiles
  *    `^(?:value)$`, base.go:101-103);
  *  - the matcher list is a conjunction (AND);
  *  - an EMPTY matcher list matches everything — the reference's bulk-export
  *    extension beyond PromQL (base.go:100-138, storages_test.go:264-356).
  *
  * Dialect: the reference compiles Go RE2; the engine evaluates Java regex
  * (`rlike` on the Catalyst path). Two measures close the gap without an
  * RE2 engine on the classpath:
  *
  *  1. anchoring uses `\A(?:value)\z`, not `^...$` — Java's `$` (and `\Z`)
  *     also match just before a trailing newline, so `^(?:foo)$` matches
  *     "foo\n" under Java but not under RE2; `\z` is end-of-input in both
  *     dialects. The same pattern string is used on the Catalyst and
  *     driver paths, so they cannot diverge from each other.
  *  2. `validateRe2` rejects the Java-only constructs RE2 refuses to
  *     compile (backreferences, lookaround, atomic groups, possessive
  *     quantifiers, `\Z`/`\G`). The reference errors at matcher-compile
  *     time on these (base.go:101-103 regexp.Compile) — erroring loudly
  *     here mirrors that; accepting them would *silently* return different
  *     rows than the reference.
  *
  *  3. RE2's named-group syntax `(?P<name>…)` (Java spells it `(?<name>…)`
  *     and additionally forbids `_` in names) is rewritten to a plain
  *     group `(…)` before compiling — capture-group names cannot affect
  *     match/no-match, which is all a matcher evaluates. `(?P=name)`
  *     backreferences are rejected: RE2 itself has no backreferences, so
  *     erroring is reference-identical.
  *
  *  4. `^`/`$` *inside* the value are aligned to RE2 semantics: where
  *     multiline mode is OFF, `$` is rewritten to `\z` (Java's
  *     non-multiline `$` still matches before a final newline; RE2's is
  *     end-of-text) — `^` needs no rewrite (both dialects: start-of-text
  *     when multiline is off). Inline flags are tracked through their
  *     enclosing-group scopes, matching both dialects' scoping rules.
  *
  *  5. the whole pattern is compiled under Java's UNIX_LINES (`(?d)` in
  *     the anchor wrapper): RE2 knows only `\n` as a line terminator —
  *     for multiline `^`/`$` and for what `.` excludes — while Java
  *     without `d` also breaks on `\r`, `\r\n`, NEL, LS, PS. One global
  *     flag closes both (users cannot turn it off: `validateRe2` rejects
  *     Java-only flag letters, `d` included).
  *
  *  6. `i` flags gain Java's `u` (UNICODE_CASE): RE2's case-insensitive
  *     matching uses Unicode simple folding; Java's bare `(?i)` folds
  *     ASCII only.
  */
object MatcherCompiler {

  /** Value of `labels[name]` with the missing≡"" rule applied. */
  def labelValue(labels: Column, name: String): Column =
    coalesce(labels.getItem(name), lit(""))

  /** Full-anchor wrapper, RE2-compatible end-of-input semantics; `(?d)`
    * makes `\n` the only line terminator pattern-wide, like RE2. */
  private def anchored(value: String): String = "(?d)\\A(?:" + toJavaDialect(value) + ")\\z"

  /** Rewrite RE2-legal syntax Java refuses or evaluates differently:
    *
    *  - `(?P<name>` named groups become plain `(` groups (names never
    *    change what matches, and Java's own `(?<name>` form forbids `_`
    *    in names, so renaming wouldn't suffice); `(?P=name)` (a
    *    backreference in Python, INVALID in RE2) fails loudly.
    *  - `$` where multiline is off becomes `\z` (Java's non-multiline `$`
    *    matches before a final newline, RE2's is end-of-text).
    *  - flag segments containing `i` gain Java's `u` (UNICODE_CASE) so
    *    case folding is Unicode-wide, like RE2's.
    *
    * Escape- and character-class-aware; inline-flag scopes are tracked
    * per enclosing group (both dialects scope inline flags that way). */
  def toJavaDialect(pattern: String): String = {
    val out = new StringBuilder(pattern.length)
    var i = 0
    var inClass = false
    var multiline = false
    // multiline state saved at every group open, restored at its close
    var stack = List.empty[Boolean]
    val flagChars = "imsU-"
    def applyFlags(seg: String): Unit = {
      val cut = seg.indexOf('-')
      val (on, off) = if (cut < 0) (seg, "") else (seg.substring(0, cut), seg.substring(cut))
      if (on.contains('m')) multiline = true
      if (off.contains('m')) multiline = false
    }
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      c match {
        case '\\' if i + 1 < pattern.length =>
          out.append(c).append(pattern.charAt(i + 1)); i += 2
        case '[' if !inClass =>
          inClass = true; out.append(c); i += 1
        case ']' if inClass =>
          inClass = false; out.append(c); i += 1
        case '(' if !inClass && pattern.startsWith("(?P", i) =>
          if (pattern.startsWith("(?P<", i)) {
            val close = pattern.indexOf('>', i + 4)
            val name = if (close < 0) "" else pattern.substring(i + 4, close)
            if (close < 0 || name.isEmpty || !name.forall(ch =>
                ch.isLetterOrDigit && ch < 128 || ch == '_'))
              throw new IllegalArgumentException(
                s"malformed named group in matcher regex (RE2 requires (?P<[A-Za-z0-9_]+>): $pattern")
            stack ::= multiline
            out.append('('); i = close + 1
          } else
            throw new IllegalArgumentException(
              s"matcher regex uses (?P= / (?P' syntax, which RE2 (the reference dialect) does not support: $pattern")
        case '(' if !inClass && i + 1 < pattern.length && pattern.charAt(i + 1) == '?' && {
            var j = i + 2
            while (j < pattern.length && flagChars.indexOf(pattern.charAt(j)) >= 0) j += 1
            j < pattern.length && (pattern.charAt(j) == ')' || pattern.charAt(j) == ':')
          } =>
          var j = i + 2
          while (j < pattern.length && flagChars.indexOf(pattern.charAt(j)) >= 0) j += 1
          val seg = pattern.substring(i + 2, j)
          val javaSeg = if (seg.contains('i')) seg.replace("i", "iu") else seg
          if (pattern.charAt(j) == ':') stack ::= multiline // scoped: restore at its ')'
          applyFlags(seg)
          out.append("(?").append(javaSeg).append(pattern.charAt(j)); i = j + 1
        case '(' if !inClass =>
          stack ::= multiline; out.append(c); i += 1
        case ')' if !inClass =>
          stack match {
            case saved :: rest => multiline = saved; stack = rest
            case Nil => () // unbalanced — let the regex compiler report it
          }
          out.append(c); i += 1
        case '$' if !inClass && !multiline =>
          out.append("\\z"); i += 1
        case _ =>
          out.append(c); i += 1
      }
    }
    out.toString
  }

  /** Reject constructs Java regex accepts but RE2 (the reference dialect)
    * rejects. Throws IllegalArgumentException naming the construct —
    * the analogue of the reference's compile-time matcher error. */
  def validateRe2(pattern: String): Unit = {
    var i = 0
    var inClass = false
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(
        s"matcher regex uses $what, which RE2 (the reference dialect) does not support: $pattern")
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' if i + 1 < pattern.length =>
          pattern.charAt(i + 1) match {
            case c if c >= '1' && c <= '9' && !inClass => fail(s"a backreference (\\$c)")
            case 'k' if !inClass => fail("a named backreference (\\k)")
            case 'Z' => fail("\\Z (Java: end-before-final-newline; RE2 has only \\z)")
            case 'G' => fail("\\G (end-of-previous-match)")
            case _ => ()
          }
          i += 2
        case '[' if !inClass =>
          inClass = true; i += 1
          if (i < pattern.length && pattern.charAt(i) == '^') i += 1
          if (i < pattern.length && pattern.charAt(i) == ']') i += 1 // leading ] is literal
        case ']' if inClass =>
          inClass = false; i += 1
        case '(' if !inClass && i + 1 < pattern.length && pattern.charAt(i + 1) == '?' =>
          val rest = pattern.substring(i + 2)
          if (rest.startsWith("=") || rest.startsWith("!")) fail("lookahead (?= / (?!")
          else if (rest.startsWith("<=") || rest.startsWith("<!")) fail("lookbehind (?<= / (?<!")
          else if (rest.startsWith(">")) fail("an atomic group (?>")
          else {
            // flag segment: only i/m/s survive the dialect bridge. RE2's U
            // (ungreedy) has no Java equivalent (Java's U re-types char
            // classes) and Java-only flags (d/u/x) would silently change
            // what matches under RE2 — both error loudly instead.
            var j = i + 2
            while (j < pattern.length && "imsUdux-".indexOf(pattern.charAt(j)) >= 0) j += 1
            if (j < pattern.length && (pattern.charAt(j) == ')' || pattern.charAt(j) == ':'))
              pattern.substring(i + 2, j).find(ch => "ims-".indexOf(ch) < 0).foreach {
                case 'U' => fail("the RE2 ungreedy flag (?U), which Java cannot emulate")
                case ch  => fail(s"the Java-only flag (?$ch)")
              }
          }
          i += 1
        case c if !inClass && (c == '*' || c == '+' || c == '?' || c == '}')
            && i + 1 < pattern.length && pattern.charAt(i + 1) == '+'
            // `}+` is only a quantifier if the `}` closes a repetition like
            // {2,3}; a bare `}` is a literal in both dialects. Cheap check:
            // there is a matching `{` before it.
            && (c != '}' || pattern.lastIndexOf('{', i) >= 0) =>
          fail(s"a possessive quantifier ($c+)")
        case _ => i += 1
      }
    }
  }

  def compileOne(labels: Column, m: Matcher): Column = {
    val v = labelValue(labels, m.name)
    m.matchType match {
      case MatchType.Eq  => v === m.value
      case MatchType.Neq => v =!= m.value
      case MatchType.Re  => validateRe2(m.value); v.rlike(anchored(m.value))
      case MatchType.Nre => validateRe2(m.value); !v.rlike(anchored(m.value))
    }
  }

  /** AND of all matchers; empty list => TRUE (match everything). */
  def compile(labels: Column, matchers: Seq[Matcher]): Column =
    matchers.map(compileOne(labels, _)).reduceOption(_ && _).getOrElse(lit(true))

  /** Driver-side predicate over one label value (a missing label is
    * passed as `""`), its regex compiled once. Compiles the exact pattern
    * string the Catalyst path uses and evaluates it the way `rlike` does
    * (`find` on the fully anchored pattern). */
  def valuePredicate(m: Matcher): String => Boolean = m.matchType match {
    case MatchType.Eq  => _ == m.value
    case MatchType.Neq => _ != m.value
    case MatchType.Re | MatchType.Nre =>
      validateRe2(m.value)
      val p = java.util.regex.Pattern.compile(anchored(m.value))
      if (m.matchType == MatchType.Re) p.matcher(_).find() else !p.matcher(_).find()
  }

  /** Driver-side predicate over a plain label map, each matcher compiled
    * once (reference: storages/base/base.go:100-138). */
  def predicate(matchers: Seq[Matcher]): Map[String, String] => Boolean = {
    val ps = matchers.map(m => (m.name, valuePredicate(m)))
    labels => ps.forall { case (n, p) => p(labels.getOrElse(n, "")) }
  }

  /** One-shot driver-side evaluation; see [[predicate]]. */
  def matches(labels: Map[String, String], matchers: Seq[Matcher]): Boolean =
    predicate(matchers)(labels)
}
