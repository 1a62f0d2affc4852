package graft.zeek

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import com.github.luben.zstd.ZstdOutputStream

/** Deterministic Zeek-log fixture writer for tests. Fixtures are modeled
  * on the families described in FIXTURES.md (schemas only — content is
  * our own). */
object ZeekFixtures {

  def tempDir(): Path = Files.createTempDirectory("zeek_test")

  def write(dir: Path, name: String, content: String,
      gzip: Boolean = false, zstd: Boolean = false): String = {
    val f = dir.resolve(name)
    val raw: OutputStream = new BufferedOutputStream(new FileOutputStream(f.toFile))
    val out: OutputStream =
      if (gzip) new GZIPOutputStream(raw)
      else if (zstd) new ZstdOutputStream(raw)
      else raw
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.toString
  }

  def writeRaw(dir: Path, name: String, bytes: Array[Byte]): String = {
    val f = dir.resolve(name)
    Files.write(f, bytes)
    f.toString
  }

  /** Standard header block: tab separator, default markers. */
  def header(path: String, fields: Seq[String], types: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("#separator \\x09\n")
    sb.append("#set_separator\t,\n")
    sb.append("#empty_field\t(empty)\n")
    sb.append("#unset_field\t-\n")
    sb.append(s"#path\t$path\n")
    sb.append("#open\t2026-01-16-00-00-01\n")
    sb.append("#fields\t" + fields.mkString("\t") + "\n")
    sb.append("#types\t" + types.mkString("\t") + "\n")
    sb.toString
  }

  def row(vals: String*): String = vals.mkString("\t") + "\n"

  /** conn-like fixture exercising every scalar type + lists. */
  val connFields = Seq("ts", "uid", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p",
    "proto", "duration", "orig_bytes", "pkts", "local_orig", "score", "tags", "rtts")
  val connTypes = Seq("time", "string", "addr", "port", "addr", "port",
    "enum", "interval", "count", "int", "bool", "double", "vector[string]", "vector[interval]")

  def connContent: String =
    header("conn", connFields, connTypes) +
      row("1768539602.060078", "CAcq1P2phfnCTjZAHl", "192.168.10.5", "54321", "8.8.8.8", "53",
        "udp", "0.062826", "61", "-3", "T", "1.5", "alpha,beta", "0.01,0.02") +
      row("1768539602.166619", "CmFsdZ2rTGf6Ouv2R6", "192.168.10.5", "54322", "8.8.4.4", "53",
        "udp", "-", "-", "7", "F", "-", "(empty)", "-") +
      row("1768539603.500000", "Cxxg3H3AN8vkRYeSE6", "10.0.0.1", "443", "2001:4860:4860::8888", "65535",
        "tcp", "45.25", "18446744073709551615", "42", "true", "0.0", "g,-,h", "1.0,-,3.5") +
      "#close\t2026-01-22-02-30-59\n"

  /** dhcp.log schema (FIXTURES.md): a set[string] and a vector[string]
    * column among mostly-unset fields. */
  val dhcpFields = Seq("ts", "uids", "client_addr", "server_addr", "mac", "host_name",
    "client_fqdn", "domain", "requested_addr", "assigned_addr", "lease_time",
    "client_message", "server_message", "msg_types", "duration")
  val dhcpTypes = Seq("time", "set[string]", "addr", "addr", "string", "string", "string",
    "string", "addr", "addr", "interval", "string", "string", "vector[string]", "interval")

  /** known_hosts.log schema (FIXTURES.md), rotated hourly. */
  val knownHostsFields = Seq("ts", "duration", "kuid", "host_ip", "host_vlan",
    "host_inner_vlan", "conns_opened", "conns_closed", "conns_pending", "long_conns",
    "annotations", "last_active_session", "last_active_interval")
  val knownHostsTypes = Seq("time", "interval", "string", "addr", "int", "int", "count",
    "count", "count", "count", "vector[string]", "string", "interval")

  /** Base 3-column schema used by the schema-variation fixtures. */
  def base(pathName: String, rows: Seq[(String, String, String)]): String =
    header(pathName, Seq("ts", "id", "value"), Seq("time", "string", "count")) +
      rows.map { case (a, b, c) => row(a, b, c) }.mkString
}
