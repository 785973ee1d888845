package graft

import java.nio.file.Files
import graft.sources.{ConfigLoader, GraftConfig, ImapConfig, ImapIntake, ImapSecurity, InMemoryImap}
import org.scalatest.funsuite.AnyFunSuite

/** YAML config loading (reference internal/config/config.go Load +
  * config.yaml.example): the reference's own example file must parse to
  * its documented values, a missing file must yield the reference's
  * defaults, and wrong-typed values must fail loudly.
  */
class ConfigLoaderSpec extends AnyFunSuite {

  test("the reference's config.yaml.example parses to its documented values") {
    val example = s"${DmarcFixtures.Reference}/config.yaml.example"
    assume(Files.isRegularFile(java.nio.file.Paths.get(example)), s"$example is absent")
    val cfg = ConfigLoader.load(example)
    assert(cfg.logging.level == "info")
    assert(cfg.logging.format == "json")
    assert(cfg.parser.nameservers == Seq("1.1.1.1", "1.0.0.1"))
    assert(cfg.parser.dnsTimeoutSec == 2)
    assert(!cfg.clickhouse.enabled)
    assert(cfg.clickhouse.host == "localhost" && cfg.clickhouse.port == 9000)
    assert(cfg.clickhouse.database == "dmarc" && cfg.clickhouse.username == "default")
    assert(cfg.imap.port == 993 && cfg.imap.tls && cfg.imap.mailbox == "INBOX")
    assert(cfg.imap.archiveMailbox == "DMARC-Archive")
    assert(cfg.imap.checkIntervalSec == 300)
    assert(cfg.http.port == 8080 && cfg.http.rateLimit == 60 && cfg.http.rateBurst == 10)
    assert(cfg.http.maxUploadBytes == 52428800L)
    assert(cfg.smtp.from == "parsedmarc@example.com")
    assert(cfg.smtp.to == Seq("admin@example.com"))
    assert(cfg.smtp.subject == "parsedmarc report")
    assert(cfg.smtp.message == "DMARC report attached")
    assert(cfg.kafka.hosts == Seq("localhost:9092"))
    assert(cfg.kafka.aggregateTopic == "dmarc.aggregate")
    assert(cfg.kafka.smtpTlsTopic == "dmarc.smtp_tls")
  }

  test("missing file yields the reference defaults (config.go:150-244)") {
    val cfg = ConfigLoader.load("/nonexistent/config.yaml")
    assert(cfg == GraftConfig())
    assert(cfg.imap.port == 993 && cfg.imap.archiveMailbox == "DMARC-Archive")
    assert(cfg.http.rateLimit == 60 && cfg.http.maxUploadBytes == 50L * 1024 * 1024)
    assert(cfg.smtp.subject == "parsedmarc report" && !cfg.smtp.enabled)
    assert(cfg.kafka.ssl && cfg.kafka.hosts.isEmpty)
  }

  test("quoted empty strings stay strings; unquoted empties start lists") {
    val cfg = ConfigLoader.fromYaml(
      """parser:
        |  ip_db_path: ""
        |  nameservers:
        |    - "9.9.9.9"
        |""".stripMargin)
    assert(cfg.parser.ipDbPath == "")
    assert(cfg.parser.nameservers == Seq("9.9.9.9"))
  }

  test("partial files overlay defaults; unknown sections and keys are ignored") {
    val cfg = ConfigLoader.fromYaml(
      """imap:
        |  host: mail.example.com
        |  delete_processed: true
        |  future_knob: whatever
        |grafana:
        |  theme: dark
        |""".stripMargin)
    assert(cfg.imap.host == "mail.example.com")
    assert(cfg.imap.deleteProcessed)
    assert(cfg.imap.port == 993, "unset keys keep defaults")
  }

  test("wrong-typed values fail loudly, naming the key") {
    val e = intercept[IllegalArgumentException] {
      ConfigLoader.fromYaml("imap:\n  port: not_a_number\n")
    }
    assert(e.getMessage.contains("port"))
    val e2 = intercept[IllegalArgumentException] {
      ConfigLoader.fromYaml("smtp:\n  enabled: yes_please\n")
    }
    assert(e2.getMessage.contains("enabled"))
  }

  test("loaded IMAP settings drive the live intake client end to end") {
    val seed = ImapIntake.wrapReportEmail("r.xml",
      Files.readAllBytes(java.nio.file.Paths.get(
        s"${DmarcFixtures.Root}/aggregate/example.net!example.com!1529366400!1529452799.xml")))
    // `tls` defaults true (the reference's client.go tls.Dial posture), so the
    // loaded config dials IMAPS — the server must speak TLS from byte 0.
    val server = new InMemoryImap("cfg-user", "cfg-pw", Seq(seed),
      security = ImapSecurity.Imaps)
    try {
      val cfg = ConfigLoader.fromYaml(
        s"""imap:
           |  enabled: true
           |  host: 127.0.0.1
           |  port: ${server.port}
           |  username: cfg-user
           |  password: cfg-pw
           |  archive_mailbox: "Done"
           |""".stripMargin)
      val imapCfg: ImapConfig = cfg.imap.toImapConfig
      assert(imapCfg == ImapConfig("127.0.0.1", server.port, "cfg-user", "cfg-pw",
        "INBOX", "Done", deleteProcessed = false, security = ImapSecurity.Imaps))
      val msgs = ImapIntake.pullMessages(imapCfg)
      assert(msgs.size == 1)
      assert(server.archivedCount == 1)
      assert(server.lastNegotiated.startsWith("TLS"),
        s"config-driven intake must run encrypted, saw ${server.lastNegotiated}")
    } finally server.close()
  }

  test("explicit 'tls: false' opts into the plaintext fallback client") {
    val seed = ImapIntake.wrapReportEmail("r.xml",
      Files.readAllBytes(java.nio.file.Paths.get(
        s"${DmarcFixtures.Root}/aggregate/example.net!example.com!1529366400!1529452799.xml")))
    val server = new InMemoryImap("cfg-user", "cfg-pw", Seq(seed))
    try {
      val cfg = ConfigLoader.fromYaml(
        s"""imap:
           |  enabled: true
           |  host: 127.0.0.1
           |  port: ${server.port}
           |  username: cfg-user
           |  password: cfg-pw
           |  tls: false
           |""".stripMargin)
      val imapCfg = cfg.imap.toImapConfig
      assert(imapCfg.security == ImapSecurity.Plaintext)
      assert(ImapIntake.pullMessages(imapCfg).size == 1)
      assert(server.lastNegotiated == "plaintext")
    } finally server.close()
  }

  test("a key with a YAML-null value is absent: defaults apply, no crash") {
    val cfg = ConfigLoader.fromYaml(
      """imap:
        |  host:
        |  port: 143
        |""".stripMargin)
    assert(cfg.imap.host == "", "null value -> the default")
    assert(cfg.imap.port == 143)
  }

  test("scalars keep their source text; a quoted empty string is not YAML null") {
    val cfg = ConfigLoader.fromYaml(
      """imap:
        |  password: 007
        |clickhouse:
        |  username: ""
        |  database:
        |""".stripMargin)
    assert(cfg.imap.password == "007")
    assert(cfg.clickhouse.username == "", "quoted empty string overrides the default")
    assert(cfg.clickhouse.database == "dmarc", "plain empty value keeps the default")
  }

  test("'#' starts a comment only after whitespace (password: abc#123 survives)") {
    val cfg = ConfigLoader.fromYaml(
      """imap:
        |  password: abc#123
        |  host: mail.example.com # trailing comment
        |""".stripMargin)
    assert(cfg.imap.password == "abc#123")
    assert(cfg.imap.host == "mail.example.com")
  }

  test("imap.tls maps to implicit IMAPS (the reference's tls.Dial posture); false to plaintext") {
    import graft.sources.{HttpSettings, ImapSecurity, ImapSettings}
    assert(ImapSettings(tls = true).toImapConfig.security == ImapSecurity.Imaps)
    assert(ImapSettings(tls = false).toImapConfig.security == ImapSecurity.Plaintext)
    assert(HttpSettings(tls = true).toHttpConfig.tls)
    assert(!HttpSettings().toHttpConfig.tls)
  }

  test("toHttpConfig: explicit ports bind verbatim; giant upload caps clamp positive") {
    assert(graft.sources.HttpSettings(port = 8080).toHttpConfig.port == 8080)
    assert(graft.sources.HttpSettings(port = 0).toHttpConfig.port == 0)
    val big = graft.sources.HttpSettings(maxUploadBytes = 3L * 1024 * 1024 * 1024).toHttpConfig
    assert(big.maxBodyBytes > 0 && big.maxBodyBytes == Int.MaxValue - 1)
  }

}
