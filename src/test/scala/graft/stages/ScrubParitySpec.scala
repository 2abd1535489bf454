package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.synth.SynthPages

/** The Column (regexp expressions) and scalar (fused scorer) scrub engines
  * must produce identical scrubbed text and counts.
  */
class ScrubParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Column and scalar scrub agree on 1200 synthetic pages") {
    import spark.implicits._
    val texts = (0L until 1200L).map(SynthPages.gen(_).text)
    val colRows = Scrub.withScrub(texts.toDF("text"))
      .select("scrubbed_text", "n_emails", "n_phones", "n_cnps", "n_slurs")
      .collect()
    texts.zip(colRows).zipWithIndex.foreach { case ((t, r), idx) =>
      val s = ScrubScalar(t)
      assert(r.getString(0) == s.scrubbed, s"scrubbed_text @$idx")
      assert(r.getInt(1) == s.nEmails && r.getInt(2) == s.nPhones &&
        r.getInt(3) == s.nCnps && r.getInt(4) == s.nSlurs, s"counts @$idx")
    }
  }

  test("uppercase slur and edge strings agree") {
    import spark.implicits._
    val cases = Seq("PROSTULE!", "prostULE", "u l e", "", "@", "07",
      "a@b.ro 0722123456 " + SynthPages.makeCnp(42L, 3L, valid = true))
    val colRows = Scrub.withScrub(cases.toDF("text"))
      .select("scrubbed_text", "n_emails", "n_phones", "n_cnps", "n_slurs")
      .collect()
    cases.zip(colRows).foreach { case (t, r) =>
      val s = ScrubScalar(t)
      assert(r.getString(0) == s.scrubbed, s"text=$t")
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) ==
        ((s.nEmails, s.nPhones, s.nCnps, s.nSlurs)), s"counts for $t")
    }
  }

  test("email matching inside '@' runs equals the full-text regex on adversarial strings") {
    import spark.implicits._
    val cases = Seq(
      // several '@' in one run
      "a@b@c.ro", "x@y.ro@z.com", "a@@b.ro", "@@@", "a.b@c.d@e.fr x@y.ro@",
      "@ion@ex.ro", "ion@ex.ro@", "ion@ex.ro@ana@ex.com",
      // emails next to punctuation
      "(ion@ex.ro)", "ion@ex.ro.", "mail:ion@ex.ro,ana@ex.ro;", "<ion@ex.ro>",
      "\"ion@ex.ro\"", "ion@ex.ro!?", "[a@b.ro]/c@d.com", "a@b..ro", "a@b.c",
      "a@-.ro", "%+-._@x.io", "ion @ex.ro", "ion@ ex.ro", "\tion@ex.ro\n",
      // replacement tokens beside emails
      "<EMAIL>", "<EMAIL>@ex.ro", "x<EMAIL>y@z.ro", "<EMAIL> a@b.ro <EMAIL>",
      // non-ASCII neighbours
      "șion@ex.ro", "ion@ex.roș", "ion@exț.ro", "ăâîșț@ex.ro", "ion@ex.ro🙂ana@b.com",
      "🙂@🙂.ro", "ion\u00a0@ex.ro", "Ion@Ex.RO ȘTEFAN@EX.RO",
      // a long word before the '@'
      "a" * 3000 + "@b.ro " + "c" * 3000)
    val full = java.util.regex.Pattern.compile(Scrub.emailRe)
    val colRows = Scrub.withScrub(cases.toDF("text"))
      .select("scrubbed_text", "n_emails").collect()
    cases.zip(colRows).foreach { case (t, r) =>
      val m = full.matcher(t)
      var n = 0
      while (m.find()) n += 1
      val s = ScrubScalar(t)
      assert(s.nEmails == n && r.getInt(1) == n, s"count for $t")
      val expected = full.matcher(t).replaceAll(Scrub.EmailToken)
      // phones, slurs and CNPs are absent from these strings
      assert(s.scrubbed == expected && r.getString(0) == expected, s"text=$t")
    }

    // random strings over an alphabet dense in email characters
    val alphabet = "ab.@-_%+ șZ9,<>"
    val rnd = new scala.util.Random(7)
    (0 until 3000).foreach { _ =>
      val t = Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val m = full.matcher(t)
      var n = 0
      while (m.find()) n += 1
      val s = ScrubScalar(t)
      assert(s.nEmails == n && s.scrubbed == full.matcher(t).replaceAll(Scrub.EmailToken),
        s"text=$t")
    }
  }
}
