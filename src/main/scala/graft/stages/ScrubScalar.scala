package graft.stages

import java.util.regex.Pattern

/** Scalar engine for the N4 scrub, used inside the fused `mapPartitions`
  * scorer. Same compiled patterns and identical semantics as the Column
  * version ([[Scrub]], cross-validated in ScrubParitySpec): counts measured
  * on the ORIGINAL text, replacements applied sequentially
  * email → phone → slur → CNP.
  *
  * Perf: one String materialization per doc (vs one per regexp expression),
  * plus necessary-condition guards — '@' for emails, digits for phones/CNPs,
  * a lexicon-stem scan for slurs — that skip the regex entirely on the
  * (majority) clean docs. The email regex runs only over the runs of
  * email characters around each '@'.
  */
object ScrubScalar {

  final case class Result(
      scrubbed: String, nEmails: Int, nPhones: Int, nCnps: Int, nSlurs: Int)

  // The fast-path slur guard below scans for the literal "ule"; it is only
  // sound while every lexicon entry contains that substring (Romanian
  // vocative). Fail loudly at class-init if the lexicon ever diverges,
  // instead of silently skipping slurs the Column version still counts.
  require(graft.synth.Corpus.toxicLexicon.forall(_.toLowerCase.contains("ule")),
    "ScrubScalar slur guard assumes every toxicLexicon entry contains 'ule'; " +
      "update containsUleIgnoreCase before extending the lexicon")

  private val emailP = Pattern.compile(Scrub.emailRe)
  private val phoneP = Pattern.compile(Scrub.phoneRe)
  private val slurP = Pattern.compile(Scrub.slurRe)

  private def containsUleIgnoreCase(s: String): Boolean = {
    val n = s.length - 2
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c == 'u' || c == 'U') && {
        val l = s.charAt(i + 1); val e = s.charAt(i + 2)
        (l == 'l' || l == 'L') && (e == 'e' || e == 'E')
      }) return true
      i += 1
    }
    false
  }

  private def isEmailChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-' || c == '@'

  /** Start and end of every email match in `s`, flattened. The email
    * pattern has no anchors or lookarounds and every character it matches
    * is an [[isEmailChar]], so each match lies inside one maximal run of
    * those characters that holds an '@', and matching inside each such run
    * finds exactly the matches of a full-text scan. The full-text scan
    * backtracks through every word of the doc.
    */
  private def emailSpans(s: String): Array[Int] = {
    val spans = Array.newBuilder[Int]
    val m = emailP.matcher(s)
    var at = s.indexOf('@')
    while (at >= 0) {
      var a = at
      while (a > 0 && isEmailChar(s.charAt(a - 1))) a -= 1
      var b = at + 1
      while (b < s.length && isEmailChar(s.charAt(b))) b += 1
      m.region(a, b)
      while (m.find()) { spans += m.start(); spans += m.end() }
      at = s.indexOf('@', b)
    }
    spans.result()
  }

  /** `s` with each span of `spans` replaced by `token`. */
  private def replaceSpans(s: String, spans: Array[Int], token: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    var i = 0
    while (i < spans.length) {
      sb.append(s, last, spans(i)).append(token)
      last = spans(i + 1)
      i += 2
    }
    sb.append(s, last, s.length).toString
  }

  private def count(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var c = 0
    while (m.find()) c += 1
    c
  }

  def apply(text: String): Result = {
    if (text == null || text.isEmpty) return Result(text, 0, 0, 0, 0)
    // one cheap scan for guard facts
    var hasAt = false
    var hasDigit = false
    var i = 0
    val n = text.length
    while (i < n && !(hasAt && hasDigit)) {
      val c = text.charAt(i)
      if (c == '@') hasAt = true
      else if (c >= '0' && c <= '9') hasDigit = true
      i += 1
    }
    // slur guard: all lexicon entries end in "ule" (vocative) — a fast
    // case-insensitive substring check; falls through to the real regex
    val maybeSlur = containsUleIgnoreCase(text)

    val emails = if (hasAt) emailSpans(text) else Array.emptyIntArray
    val nEmails = emails.length / 2
    val nPhones = if (hasDigit) count(phoneP, text) else 0
    val nCnps = if (hasDigit) CnpScrubber.count(text) else 0
    val nSlurs = if (maybeSlur) count(slurP, text) else 0

    var out = text
    if (nEmails > 0) out = replaceSpans(out, emails, Scrub.EmailToken)
    if (nPhones > 0) out = phoneP.matcher(out).replaceAll(Scrub.PhoneToken)
    if (nSlurs > 0) out = slurP.matcher(out).replaceAll(Scrub.SlurToken)
    if (nCnps > 0) out = CnpScrubber.scrub(out)
    Result(out, nEmails, nPhones, nCnps, nSlurs)
  }
}
