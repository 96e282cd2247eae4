package graft

import java.nio.file.Files

import graft.config.{CollectionConfig, ConnectorConfig}

/** Config loading + validation semantics mirroring
  * internal/config/config_test.go:44-107 and
  * pkg/connector/connector_test.go:20-209.
  */
class ConfigSpec extends SparkSuite {

  private def write(yaml: String): String = {
    val f = Files.createTempFile("graft-cfg", ".yaml")
    Files.writeString(f, yaml)
    f.toString
  }

  private val fullYaml =
    """connector:
      |  log:
      |    level: debug
      |  mongo:
      |    uri: mongodb://localhost:27017
      |  nats:
      |    url: nats://localhost:4222
      |  server:
      |    addr: ":8080"
      |  collections:
      |    - dbName: test-db
      |      collName: coll1
      |      changeStreamPreAndPostImages: true
      |      tokensDbName: tokens-db
      |      tokensCollName: coll1-tokens
      |      tokensCollCapped: true
      |      tokensCollSizeInBytes: 8192
      |      streamName: CUSTOM
      |    - dbName: test-db
      |      collName: coll2
      |""".stripMargin

  test("S3: full YAML round-trips with defaults for omitted fields") {
    val cfg = ConnectorConfig.load(write(fullYaml), env = Map.empty)
    assert(cfg.logLevel == "debug")
    assert(cfg.mongoUri == "mongodb://localhost:27017")
    assert(cfg.collections.length == 2)
    val c1 = cfg.collections.head
    assert(c1.streamName == "CUSTOM" && c1.tokensCollSizeInBytes == 8192L)
    val c2 = cfg.collections(1)
    assert(c2.resolvedStreamName == "COLL2")       // P5 default
    assert(c2.resolvedTokensCollName == "coll2")   // default = collName
    assert(c2.tokensDbName == CollectionConfig.DefaultTokensDbName)
  }

  test("P6: env vars override file values (cmd/connector/main.go:14-24)") {
    val cfg = ConnectorConfig.load(write(fullYaml),
      env = Map("MONGO_URI" -> "mongodb://other:1", "LOG_LEVEL" -> "warn"))
    assert(cfg.mongoUri == "mongodb://other:1")
    assert(cfg.logLevel == "warn")
    assert(cfg.natsUrl == "nats://localhost:4222") // not overridden
  }

  test("validation: missing dbName/collName rejected (connector.go:323-327)") {
    intercept[ConnectorConfig.ConfigException] {
      ConnectorConfig.validate(CollectionConfig(dbName = "", collName = "c"))
    }
    intercept[ConnectorConfig.ConfigException] {
      ConnectorConfig.validate(CollectionConfig(dbName = "d", collName = ""))
    }
  }

  test("validation: tokens collection must differ from watched, " +
      "case-insensitive (connector.go:344-347)") {
    intercept[ConnectorConfig.ConfigException] {
      ConnectorConfig.validate(CollectionConfig(
        dbName = "DB", collName = "Coll",
        tokensDbName = "db", tokensCollName = "coll"))
    }
    // different coll name in same db is fine
    ConnectorConfig.validate(CollectionConfig(
      dbName = "db", collName = "coll",
      tokensDbName = "db", tokensCollName = "coll-tokens"))
  }

  test("malformed config rejected (config_test.go error paths)") {
    intercept[ConnectorConfig.ConfigException] {
      ConnectorConfig.load(write("not-a-connector: {}"), env = Map.empty)
    }
  }

  test("Bench integer settings: unset or malformed values fall back to " +
      "the default, never throw") {
    def get(v: Option[String]) =
      Bench.envInt("SPARK_GRAFT_BENCH_TRIALS", 3, min = 1,
        env = v.map("SPARK_GRAFT_BENCH_TRIALS" -> _).toMap)
    assert(get(None) == 3)
    assert(get(Some("5")) == 5)
    assert(get(Some(" 7 ")) == 7)
    for (bad <- Seq("", "three", "2.5", "0", "-1", "99999999999"))
      assert(get(Some(bad)) == 3, bad)
  }
}
