package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** scrub_pii: rule-by-rule redaction (email, IPv4, Luhn-gated cards,
  * E.164-envelope phones), rule-order interactions, non-matches that
  * MUST survive, idempotency, interpreted == codegen. */
class PiiExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def scrub(t: String): String =
    spark.sql(s"select scrub_pii('${t.replace("'", "''")}')").head().getString(0)

  test("emails: plain, dotted, plus-tagged; non-emails survive") {
    assert(scrub("mail me at a.b+tag@sub.example.co please")
      === "mail me at <EMAIL> please")
    assert(scrub("x@y.io and w_z%q@d-1.org") === "<EMAIL> and <EMAIL>")
    assert(scrub("not an email: a@b (no tld), @lone, a at b.com")
      === "not an email: a@b (no tld), @lone, a at b.com")
  }

  test("ipv4: valid octets only, never inside longer runs") {
    assert(scrub("server 192.168.100.250 responded") === "server <IP> responded")
    assert(scrub("octet overflow 256.1.1.1 is not an ip")
      === "octet overflow 256.1.1.1 is not an ip")
    assert(scrub("version 1.2.3.4.5 is not an ip") === "version 1.2.3.4.5 is not an ip")
    assert(scrub("edge 0.0.0.0 and 255.255.255.255 both are")
      === "edge <IP> and <IP> both are")
  }

  test("cards: Luhn decides; grouped and bare forms; non-Luhn lookalikes survive") {
    assert(scrub("pay 4242 4242 4242 4242 now") === "pay <CARD> now")
    assert(scrub("pay 4242-4242-4242-4242 now") === "pay <CARD> now")
    assert(scrub("pay 4242424242424242 now") === "pay <CARD> now")
    // 16 digits, Luhn-INVALID: not a card; too many digits for a phone
    assert(PiiKit.luhnValid("4242424242424242"))
    assert(!PiiKit.luhnValid("1234567890123456"))
    assert(scrub("id 1234567890123456 stays") === "id 1234567890123456 stays")
    // a 19-digit Luhn number (maximal PAN length)
    assert(scrub("pan 6011111111111111110 x") === "pan <CARD> x")
  }

  test("phones: E.164 envelope 10-15 digits; dates and short ids survive") {
    assert(scrub("call +1 555-010-1234 today") === "call <PHONE> today")
    assert(scrub("call (020) 7946-0958-99 today") === "call <PHONE> today",
      "parenthesised area code")
    assert(scrub("call 555.010.1234 today") === "call <PHONE> today")
    assert(scrub("date 2024-06-01 is not a phone") === "date 2024-06-01 is not a phone")
    assert(scrub("order 12-34 id 123-4567 stay") === "order 12-34 id 123-4567 stay",
      "under 10 total digits never matches")
  }

  test("rule order: IP claimed before phone could eat its digit runs") {
    // 12 digits dotted — inside the phone envelope, but it IS an ip
    assert(scrub("host 192.168.100.250.") === "host <IP>.")
    // card claimed before phone (16 > 15 digits would skip phone anyway;
    // a 13-digit Luhn run is inside BOTH envelopes — card must win)
    assert(PiiKit.luhnValid("4222222222222"))
    assert(scrub("n 4222222222222 m") === "n <CARD> m")
  }

  test("idempotency, null, empty, and interpreted == codegen") {
    val hostile = "a@b.co 10.0.0.1 4242 4242 4242 4242 +44 20 7946 0958"
    val once = scrub(hostile)
    assert(once === "<EMAIL> <IP> <CARD> <PHONE>")
    assert(scrub(once) === once, "placeholders carry no digits or @ — idempotent")
    assert(scrub("") === "")
    assert(spark.sql("select scrub_pii(cast(null as string))").head().isNullAt(0))
    val df = spark.range(0, 100).toDF("id").selectExpr(
      """concat('user', cast(id as string), '@ex', cast(id % 5 as string),
               '.org wrote from 10.1.', cast(id % 200 as string), '.7') as t""")
    val gen = df.selectExpr("scrub_pii(t) as s").collect().map(_.getString(0))
    val interp = df.collect().map(r => PiiKit.scrubJava(r.getString(0)))
    assert(gen.toSeq === interp.toSeq)
    assert(gen.forall(_ === "<EMAIL> wrote from <IP>"))
  }

  test("iban: mod-97 decides; grouped and compact forms; bad checksums survive") {
    // the ISO 13616 worked example (valid)
    assert(scrub("pay GB82 WEST 1234 5698 7654 32 now") === "pay <IBAN> now")
    assert(scrub("pay GB82WEST12345698765432 now") === "pay <IBAN> now")
    assert(scrub("acct DE89 3704 0044 0532 0130 00.") === "acct <IBAN>.")
    // one-digit perturbation fails mod-97 and stays
    assert(scrub("acct DE89 3704 0044 0532 0130 01.")
      === "acct DE89 3704 0044 0532 0130 01.")
    // too short for an IBAN even when mod-97-shaped
    assert(scrub("code GB82 WEST 12") === "code GB82 WEST 12")
    assert(PiiKit.ibanValid("GB82WEST12345698765432"))
    assert(!PiiKit.ibanValid("GB82WEST12345698765433"))
  }

  test("ssn and nino: published shape rules; never-issued shapes survive") {
    assert(scrub("ssn 123-45-6789 ok") === "ssn <SSN> ok")
    assert(scrub("ssn 000-45-6789 ok") === "ssn 000-45-6789 ok", "area 000 never issued")
    assert(scrub("ssn 666-45-6789 ok") === "ssn 666-45-6789 ok", "area 666 never issued")
    assert(scrub("ssn 923-45-6789 ok") === "ssn 923-45-6789 ok", "area 9xx never issued")
    assert(scrub("ssn 123-00-6789 ok") === "ssn 123-00-6789 ok", "group 00 never issued")
    assert(scrub("ssn 123-45-0000 ok") === "ssn 123-45-0000 ok", "serial 0000 never issued")
    assert(scrub("id 1123-45-6789") === "id <PHONE>",
      "a leading extra digit blocks the SSN rule; the 10-digit run is phone-shaped")
    assert(scrub("ni AB 123456 C done") === "ni <NINO> done")
    assert(scrub("ni AB123456C done") === "ni <NINO> done")
    assert(scrub("ni DA123456C done") === "ni DA123456C done", "D prefix never issued")
    assert(scrub("ni AO123456C done") === "ni AO123456C done", "second letter O never issued")
    assert(scrub("ni AB123456E done") === "ni AB123456E done", "suffix A-D only")
  }

  test("secrets: 24+ mixed-case digit-bearing diverse tokens; filler survives") {
    assert(scrub("key sk4live8Xp2Qz7Rb1Nm6Vc3Jd9 end") === "key <SECRET> end")
    assert(scrub("key aaaaaaaaaaaaaaaaaaaaaaa1A end")
      === "key aaaaaaaaaaaaaaaaaaaaaaa1A end", "3 distinct chars fails the gate")
    assert(scrub("key abcdefghijklmnopqrstuvwxyz end")
      === "key abcdefghijklmnopqrstuvwxyz end", "no digit, no upper")
    assert(scrub("hash 0123456789abcdef0123456789abcdef end")
      === "hash 0123456789abcdef0123456789abcdef end", "no uppercase")
    assert(scrub("tok A1b2-C3d4_E5f6+G7h8=I9j0KL end") === "tok <SECRET> end")
    // scrubbed output is idempotent under every new rule too
    val once = scrub("GB82 WEST 1234 5698 7654 32 123-45-6789 AB123456C sk4live8Xp2Qz7Rb1Nm6Vc3Jd9")
    assert(PiiKit.scrubJava(once) === once)
  }
}
