package graft.flight

import graft.GraftSession.S3Profile

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap

/** Dependency-free `.ini` reader/writer with Python-`configparser`
  * semantics (reference `/root/reference/src/util/config_handler.py:1-24`):
  * `[section]` headers, `key = value` (or `key: value`) pairs, `#`/`;`
  * comment lines; section names case-sensitive, option keys
  * case-insensitive (lowercased on read, like configparser's default
  * `optionxform`); `get` returns None for missing section OR key.
  * Insertion order is preserved so `save` round-trips cleanly.
  */
final class IniConfig private (
    private var sections: ListMap[String, ListMap[String, String]]) {

  def get(section: String, key: String): Option[String] =
    sections.get(section).flatMap(_.get(key.toLowerCase))

  def set(section: String, key: String, value: String): Unit = {
    val s = sections.getOrElse(section, ListMap.empty[String, String])
    sections = sections.updated(section, s.updated(key.toLowerCase, value))
  }

  def save(path: Path): Unit = {
    val text = sections.map { case (name, kvs) =>
      s"[$name]\n" + kvs.map { case (k, v) => s"$k = $v" }.mkString("\n")
    }.mkString("", "\n\n", "\n")
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}

object IniConfig {

  def empty: IniConfig = new IniConfig(ListMap.empty)

  def parse(text: String): IniConfig = {
    var sections = ListMap.empty[String, ListMap[String, String]]
    var current: Option[String] = None
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.isEmpty || line.startsWith("#") || line.startsWith(";")) ()
      else if (line.startsWith("[") && line.endsWith("]")) {
        val name = line.substring(1, line.length - 1).trim
        current = Some(name)
        if (!sections.contains(name)) sections = sections.updated(name, ListMap.empty)
      } else {
        val sep = {
          val eq = line.indexOf('='); val co = line.indexOf(':')
          if (eq < 0) co else if (co < 0) eq else math.min(eq, co)
        }
        (current, sep) match {
          case (Some(sec), i) if i > 0 =>
            val k = line.substring(0, i).trim.toLowerCase
            val v = line.substring(i + 1).trim
            sections = sections.updated(sec, sections(sec).updated(k, v))
          case _ => () // stray line outside a section / no separator: skip
        }
      }
    }
    new IniConfig(sections)
  }

  def load(path: Path): IniConfig =
    parse(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
}

/** The reference's `config.ini` surface mapped onto engine arguments
  * (template `/root/reference/src/config/config.ini.template:1-16`):
  * `[path]` relative data paths, `[MINIO]` object-store profile +
  * bucket, `[SPARK]` master URL, `[API]` page limit. A deployment
  * migrating an existing `config.ini` gets the same knobs without a
  * code change: `FlightConfig.fromIni(path)` then [[basePath]] /
  * [[s3Profile]] feed `FlightPipeline` / `GraftSession.cluster`.
  */
final case class FlightConfig(
    airlinesCsvPath: String,
    airportsCsvPath: String,
    flightsParquetPath: String,
    endpoint: Option[String],
    accessKey: String,
    secretKey: String,
    bucket: Option[String],
    sparkMasterUrl: Option[String],
    apiLimit: Int) {

  /** Pipeline base path: the bucket as an s3a URI when configured
    * (the reference writes everything into the MinIO bucket),
    * otherwise the local working dir.
    */
  def basePath: String = bucket.map(b => s"s3a://$b").getOrElse(".")

  def s3Profile: Option[S3Profile] =
    endpoint.map(e => S3Profile(e, accessKey, secretKey))
}

object FlightConfig {

  def fromIni(ini: IniConfig): FlightConfig = FlightConfig(
    airlinesCsvPath = ini.get("path", "airlines_csv_path").getOrElse("airlines.csv"),
    airportsCsvPath = ini.get("path", "airports_csv_path").getOrElse("airports.csv"),
    flightsParquetPath = ini.get("path", "flights_parquet_path").getOrElse("Flights"),
    endpoint = ini.get("MINIO", "MINIO_ENDPOINT").filter(_.nonEmpty),
    accessKey = ini.get("MINIO", "MINIO_ACCESS").getOrElse(""),
    secretKey = ini.get("MINIO", "MINIO_SECRET").getOrElse(""),
    bucket = ini.get("MINIO", "MINIO_BUCKET").filter(_.nonEmpty),
    sparkMasterUrl = ini.get("SPARK", "SPARK_MASTER_URL").filter(_.nonEmpty),
    // The reference compares the feed length against this value as a
    // configparser STRING (`extract.py:63`) — parsed to Int here.
    apiLimit = ini.get("API", "API_LIMIT").flatMap(_.toIntOption)
      .getOrElse(FlightExtract.DefaultApiLimit))

  def fromIni(path: Path): FlightConfig = fromIni(IniConfig.load(path))
}
