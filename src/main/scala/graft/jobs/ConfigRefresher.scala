package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.hadoop.conf.Configuration

/** Config hot-reload (S12, reference `config/ConfigRefresher.java:39-76`):
  * an override YAML living in object storage is polled on a fixed cadence,
  * deep-merged over the in-process base config (override wins, unset keys
  * fall through to the base — the reference's OVERRIDE resolution), and the
  * merged result replaces the current config atomically. A broken override
  * fetch logs and keeps the previous config, exactly like the reference's
  * catch-and-continue poll loop.
  */
final class ConfigRefresher(
    baseYaml: String,
    overridePath: String,
    conf: Configuration,
    pollMinutes: Int = 5) {

  private val mapper = new ObjectMapper(new YAMLFactory())
  @volatile private var loaded: ConfigLoader.Loaded = ConfigLoader.loadString(baseYaml)

  /** The latest successfully merged config. */
  def current: ConfigLoader.Loaded = loaded

  /** Fetch the override (one retried whole-object read) and re-merge;
    * throws on failure (callers decide: `start()` logs and keeps the
    * previous config).
    */
  def refresh(): Unit = {
    val bytes = graft.sources.FsListing.readObject(conf, overridePath)
    val base = mapper.readTree(baseYaml)
    val merged = deepMerge(base, mapper.readTree(new String(bytes, UTF_8)))
    loaded = ConfigLoader.loadNode(merged, mapper)
  }

  /** First refresh inline (fail fast on a bad bootstrap), then poll. */
  def start(): ScheduledExecutorService = {
    refresh()
    val scheduler = Executors.newScheduledThreadPool(1)
    scheduler.scheduleAtFixedRate(() => {
      try refresh()
      catch {
        case e: Exception =>
          System.err.println(s"[config-refresher] failed to fetch override config: ${e.getMessage}")
          SyncMetrics.global.inc(SyncMetrics.FailedOverrideConfig)
      }
    }, pollMinutes.toLong, pollMinutes.toLong, TimeUnit.MINUTES)
    scheduler
  }

  private def deepMerge(base: JsonNode, override_ : JsonNode): JsonNode =
    (base, override_) match {
      case (b: ObjectNode, o: ObjectNode) =>
        val out = b.deepCopy()
        o.properties().asScala.foreach { e =>
          val merged =
            if (out.has(e.getKey)) deepMerge(out.get(e.getKey), e.getValue)
            else e.getValue
          out.set[JsonNode](e.getKey, merged)
        }
        out
      case (_, o) => o // scalars and arrays: override wins wholesale
    }
}
