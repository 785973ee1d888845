package graft.sources

import java.nio.file.{Files, Paths}
import org.snakeyaml.engine.v2.api.LoadSettings
import org.snakeyaml.engine.v2.api.lowlevel.Compose
import org.snakeyaml.engine.v2.common.ScalarStyle
import org.snakeyaml.engine.v2.nodes.{MappingNode, Node, ScalarNode, SequenceNode}
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

/** Typed settings mirroring the reference's config surface
  * (internal/config/config.go:10-98), with the reference's defaults
  * (config.go:150-244). Sections that already have a runtime type in
  * this library map onto it ([[SmtpConfig]], [[ImapConfig]],
  * [[HttpConfig]], [[graft.streaming.KafkaConfig]]); the rest are
  * carried as typed settings for callers to consume.
  */
final case class LoggingSettings(level: String = "info", format: String = "json",
                                 outputPath: String = "stdout")

final case class ParserSettings(offline: Boolean = false, ipDbPath: String = "",
                                reverseDnsMapPath: String = "", reverseDnsMapUrl: String = "",
                                alwaysUseLocalFiles: Boolean = false,
                                nameservers: Seq[String] = Seq("1.1.1.1", "1.0.0.1"),
                                dnsTimeoutSec: Int = 2)

final case class ClickHouseSettings(enabled: Boolean = false, host: String = "localhost",
                                    port: Int = 9000, database: String = "dmarc",
                                    username: String = "default", password: String = "",
                                    tls: Boolean = false, skipVerify: Boolean = false)

final case class ImapSettings(enabled: Boolean = false, host: String = "", port: Int = 993,
                              username: String = "", password: String = "",
                              tls: Boolean = true, skipVerify: Boolean = false,
                              mailbox: String = "INBOX",
                              archiveMailbox: String = "DMARC-Archive",
                              deleteProcessed: Boolean = false, checkIntervalSec: Int = 300) {
  /** The connection settings the intake client consumes. `tls: true`
    * (the reference's default — client.go dials tls.Dial when set)
    * maps to implicit IMAPS.
    */
  def toImapConfig: ImapConfig =
    ImapConfig(host, port, username, password, mailbox, archiveMailbox, deleteProcessed,
      security = if (tls) ImapSecurity.Imaps else ImapSecurity.Plaintext)
}

final case class HttpSettings(enabled: Boolean = false, host: String = "0.0.0.0",
                              port: Int = 8080, tls: Boolean = false,
                              certFile: String = "", keyFile: String = "",
                              rateLimit: Int = 60, rateBurst: Int = 10,
                              maxUploadBytes: Long = 50L * 1024 * 1024) {
  def toHttpConfig: HttpConfig =
    // port passes through verbatim — an explicitly configured 8080 must
    // bind 8080, not a silent ephemeral port (tests wanting an OS-chosen
    // port say `port: 0` themselves); the body cap clamps below the Int
    // ceiling so a >=2 GiB configured limit can't wrap negative and
    // reject every upload
    HttpConfig(port = port,
      maxBodyBytes = math.min(maxUploadBytes, (Int.MaxValue - 1).toLong).toInt,
      ratePerMinute = rateLimit, rateBurst = rateBurst, tls = tls,
      certFile = certFile, keyFile = keyFile)
}

final case class KafkaSettings(enabled: Boolean = false, hosts: Seq[String] = Nil,
                               username: String = "", password: String = "",
                               ssl: Boolean = true, skipVerify: Boolean = false,
                               aggregateTopic: String = "", forensicTopic: String = "",
                               smtpTlsTopic: String = "") {
  /** Source config for one of the three topics. */
  def toKafkaConfig(topic: String): graft.streaming.KafkaConfig =
    graft.streaming.KafkaConfig(hosts.mkString(","), topic)
}

final case class GraftConfig(logging: LoggingSettings = LoggingSettings(),
                             parser: ParserSettings = ParserSettings(),
                             clickhouse: ClickHouseSettings = ClickHouseSettings(),
                             imap: ImapSettings = ImapSettings(),
                             http: HttpSettings = HttpSettings(),
                             smtp: SmtpConfig = SmtpConfig(enabled = false, port = 25,
                               subject = "parsedmarc report"),
                             kafka: KafkaSettings = KafkaSettings())

/** YAML config loading (config.go:108-148 Load): read config.yaml,
  * overlay the reference's defaults, return typed settings. A missing
  * file is the defaults; a malformed file or a wrong-typed value fails
  * loudly (viper's Unmarshal contract).
  *
  * The file is composed (not constructed) by snakeyaml-engine, a YAML
  * 1.2 parser on Spark's classpath, and read as two-level
  * `section: / key: value` maps. Unknown sections and keys are ignored,
  * like viper's.
  */
object ConfigLoader {

  def load(path: String): GraftConfig = {
    val p = Paths.get(path)
    if (!Files.exists(p)) GraftConfig()
    else fromYaml(new String(Files.readAllBytes(p), "UTF-8"))
  }

  def fromYaml(text: String): GraftConfig = {
    val root = parseYaml(text)
    def sec(name: String): Map[String, Any] =
      root.getOrElse(name, Map.empty)
    def str(s: Map[String, Any], k: String, d: String): String = s.get(k) match {
      case Some(v: String) => v
      case Some(other) => fail(k, "string", other)
      case None => d
    }
    def bool(s: Map[String, Any], k: String, d: Boolean): Boolean = s.get(k) match {
      case Some("true") => true
      case Some("false") => false
      case Some(other) => fail(k, "bool", other)
      case None => d
    }
    def int(s: Map[String, Any], k: String, d: Long): Long = s.get(k) match {
      case Some(v: String) if v.matches("-?\\d+") => v.toLong
      case Some(other) => fail(k, "int", other)
      case None => d
    }
    def list(s: Map[String, Any], k: String, d: Seq[String]): Seq[String] = s.get(k) match {
      case Some(v: Seq[_]) => v.map(_.toString)
      case Some(v: String) if v.isEmpty => d
      case Some(other) => fail(k, "list", other)
      case None => d
    }

    val lg = sec("logging")
    val pa = sec("parser")
    val ch = sec("clickhouse")
    val im = sec("imap")
    val ht = sec("http")
    val sm = sec("smtp")
    val ka = sec("kafka")
    val d = GraftConfig()
    GraftConfig(
      logging = LoggingSettings(
        str(lg, "level", d.logging.level), str(lg, "format", d.logging.format),
        str(lg, "output_path", d.logging.outputPath)),
      parser = ParserSettings(
        bool(pa, "offline", d.parser.offline), str(pa, "ip_db_path", d.parser.ipDbPath),
        str(pa, "reverse_dns_map_path", d.parser.reverseDnsMapPath),
        str(pa, "reverse_dns_map_url", d.parser.reverseDnsMapUrl),
        bool(pa, "always_use_local_files", d.parser.alwaysUseLocalFiles),
        list(pa, "nameservers", d.parser.nameservers),
        int(pa, "dns_timeout", d.parser.dnsTimeoutSec).toInt),
      clickhouse = ClickHouseSettings(
        bool(ch, "enabled", d.clickhouse.enabled), str(ch, "host", d.clickhouse.host),
        int(ch, "port", d.clickhouse.port).toInt, str(ch, "database", d.clickhouse.database),
        str(ch, "username", d.clickhouse.username), str(ch, "password", d.clickhouse.password),
        bool(ch, "tls", d.clickhouse.tls), bool(ch, "skip_verify", d.clickhouse.skipVerify)),
      imap = ImapSettings(
        bool(im, "enabled", d.imap.enabled), str(im, "host", d.imap.host),
        int(im, "port", d.imap.port).toInt, str(im, "username", d.imap.username),
        str(im, "password", d.imap.password), bool(im, "tls", d.imap.tls),
        bool(im, "skip_verify", d.imap.skipVerify), str(im, "mailbox", d.imap.mailbox),
        str(im, "archive_mailbox", d.imap.archiveMailbox),
        bool(im, "delete_processed", d.imap.deleteProcessed),
        int(im, "check_interval", d.imap.checkIntervalSec).toInt),
      http = HttpSettings(
        bool(ht, "enabled", d.http.enabled), str(ht, "host", d.http.host),
        int(ht, "port", d.http.port).toInt, bool(ht, "tls", d.http.tls),
        str(ht, "cert_file", d.http.certFile), str(ht, "key_file", d.http.keyFile),
        int(ht, "rate_limit", d.http.rateLimit).toInt,
        int(ht, "rate_burst", d.http.rateBurst).toInt,
        int(ht, "max_upload_size", d.http.maxUploadBytes)),
      smtp = SmtpConfig(
        enabled = bool(sm, "enabled", false), host = str(sm, "host", ""),
        port = int(sm, "port", 25).toInt, username = str(sm, "username", ""),
        password = str(sm, "password", ""), from = str(sm, "from", ""),
        to = list(sm, "to", Nil), subject = str(sm, "subject", "parsedmarc report"),
        message = str(sm, "message", "")),
      kafka = KafkaSettings(
        bool(ka, "enabled", d.kafka.enabled), list(ka, "hosts", Nil),
        str(ka, "username", d.kafka.username), str(ka, "password", d.kafka.password),
        bool(ka, "ssl", d.kafka.ssl), bool(ka, "skip_verify", d.kafka.skipVerify),
        str(ka, "aggregate_topic", d.kafka.aggregateTopic),
        str(ka, "forensic_topic", d.kafka.forensicTopic),
        str(ka, "smtp_tls_topic", d.kafka.smtpTlsTopic)),
    )
  }

  private def fail(key: String, want: String, got: Any): Nothing =
    throw new IllegalArgumentException(
      s"config key '$key': expected $want, got '$got'")

  /** section → key → value off the composed node graph: a scalar is
    * its source text (`password: 007` stays "007"; the accessors do
    * the typing), a sequence is a Seq of its items. A plain empty value
    * (`host:`) is YAML null and ABSENT, so the accessors apply their
    * defaults (viper's nil handling); a quoted `""` stays an empty
    * string.
    */
  private[sources] def parseYaml(text: String): Map[String, Map[String, Any]] = {
    val sections = new Compose(LoadSettings.builder().build()).composeString(text).toScala match {
      case None => Map.empty[String, Any]
      case Some(m: MappingNode) => entries(m)
      case Some(_) => throw new IllegalArgumentException("expected a map of config sections")
    }
    sections.map {
      case (k, m: Map[_, _]) => k -> m.asInstanceOf[Map[String, Any]]
      case (k, _) => throw new IllegalArgumentException(
        s"top-level '$k' is not a section (two-level config expected)")
    }
  }

  private def entries(m: MappingNode): Map[String, Any] =
    m.getValue.asScala.iterator.collect {
      case t if !isNull(t.getValueNode) => value(t.getKeyNode).toString -> value(t.getValueNode)
    }.toMap

  private def isNull(n: Node): Boolean = n match {
    case s: ScalarNode => s.getScalarStyle == ScalarStyle.PLAIN && s.getValue.isEmpty
    case _ => false
  }

  private def value(n: Node): Any = n match {
    case s: ScalarNode => s.getValue
    case q: SequenceNode => q.getValue.asScala.map(value).toSeq
    case m: MappingNode => entries(m)
  }
}
