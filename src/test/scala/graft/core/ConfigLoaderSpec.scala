package graft.core

import graft.SparkSpec
import graft.analyze.KeyClassifier
import graft.catalog.ParquetCatalog
import graft.detect.RelationshipDetector

/** S8/P6 — JSON config sources: a user's reference-shaped
  * `relationship_patterns.json` / `relationship_rules.json` load into the
  * same DetectionConfig/CustomRule/NamingRule values they would construct in
  * code, and drive detection to identical output.
  */
class ConfigLoaderSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val p = java.nio.file.Files.createTempFile(name, ".json")
    java.nio.file.Files.writeString(p, content)
    p.toFile.deleteOnExit()
    p.toString
  }

  test("wildcardToRegex: * translates case-insensitively, non-wildcards exact case-sensitive") {
    def m(p: String, s: String) = s.matches(ConfigLoader.wildcardToRegex(p))
    assert(m("*_id", "customer_id"))
    assert(m("*_id", "CUSTOMER_ID"))
    assert(!m("*_id", "customer_identity"))
    assert(m("customer_*", "customer_code"))
    // Non-wildcard entries are exact case-SENSITIVE equality, matching the
    // reference's `text == pattern` (pattern_config.py:321-336); callers
    // apply them to the lowercased column name.
    assert(m("id", "id"))
    assert(!m("id", "ID"))
    assert(!m("id", "order_id")) // exact, not substring
  }

  test("pattern config file: filtering rules, thresholds, indicators load over defaults") {
    val path = write("patterns", """{
      "column_patterns": {
        "primary_key_indicators": ["id", "key", "hash_key"],
        "foreign_key_indicators": ["*_id", "*_hk"]
      },
      "filtering_rules": {
        "max_relationships_per_table": 5,
        "min_confidence_threshold": 0.6,
        "preferred_detection_methods": ["enhanced_pk_fk"]
      },
      "data_testing": {"confidence_threshold": 0.8}
    }""")
    val cfg = ConfigLoader.loadPatternConfig(path)
    assert(cfg.maxRelationshipsPerTable === 5)
    assert(cfg.minConfidence === 0.6)
    assert(cfg.preferredMethods === Seq("enhanced_pk_fk"))
    assert(cfg.dataTestPassThreshold === 0.8)
    assert(cfg.pkIndicatorRegexes === Seq("id", "key", "hash_key").map(ConfigLoader.wildcardToRegex))
    assert(cfg.fkIndicatorRegexes === Seq("*_id", "*_hk").map(ConfigLoader.wildcardToRegex))
    // untouched keys keep defaults
    assert(cfg.backfillMin === DetectionConfig().backfillMin)
  }

  test("reference-shaped table_patterns, confidence_scoring, data_testing, performance load") {
    // mirrors config/relationship_patterns.json:1-120 (data_vault hub +
    // dimension classes, scoring section, data-testing breadth, perf TTL)
    val path = write("full", """{
      "table_patterns": {
        "data_vault": {
          "description": "Data Vault methodology patterns",
          "patterns": {
            "hub": {
              "prefix": "h_",
              "primary_key_patterns": ["id", "key", "business_key", "hk"],
              "foreign_key_patterns": [],
              "relationship_rules": {
                "target_tables": ["dim_*", "l_*"],
                "relationship_type": "one_to_many",
                "confidence": 0.9
              }
            },
            "dimension": {
              "prefix": "dim_",
              "primary_key_patterns": ["id", "key", "sk"],
              "foreign_key_patterns": ["*_id", "*_hk"],
              "relationship_rules": {
                "target_tables": ["h_*"],
                "relationship_type": "many_to_one",
                "confidence": 0.8
              }
            }
          }
        }
      },
      "confidence_scoring": {
        "exact_match": 0.97, "pattern_match": 0.85, "type_compatibility": 0.6,
        "naming_convention": 0.7, "data_vault_pattern": 0.92,
        "minimum_threshold": 0.3
      },
      "data_testing": {
        "enabled": false, "sample_size": 100, "confidence_threshold": 0.7,
        "max_orphan_percentage": 0.2, "distribution_similarity_threshold": 0.5
      },
      "performance": {"cache_enabled": true, "cache_ttl_hours": 48}
    }""")
    val cfg = ConfigLoader.loadPatternConfig(path)
    // table_patterns flatten to TablePattern rows in file order
    assert(cfg.tablePatterns.map(tp => (tp.methodology, tp.name, tp.prefix)) ===
      Seq(("data_vault", "hub", "h_"), ("data_vault", "dimension", "dim_")))
    val hub = cfg.tablePatterns.head
    assert(hub.pkPatterns === Seq("id", "key", "business_key", "hk"))
    assert(hub.fkPatterns === Nil)
    assert(hub.relTargetTables === Seq("dim_*", "l_*"))
    assert(hub.relType === "one_to_many")
    assert(hub.relConfidence === 0.9)
    // confidence_scoring overrides, by our names and the reference synonyms
    assert(cfg.methodConfidence(DetectionMethod.ExactMatch, 0.95) === 0.97)
    assert(cfg.methodConfidence(DetectionMethod.ForeignKey, 0.8) === 0.85) // pattern_match synonym
    assert(cfg.methodConfidence(DetectionMethod.NamingPattern, 0.6) === 0.7) // naming_convention
    assert(cfg.methodConfidence(DetectionMethod.DataVault, 0.9) === 0.92)
    assert(cfg.methodConfidence("not_in_file", 0.42) === 0.42) // builtin fallback
    // data_testing breadth (pattern_config.py:29-38)
    assert(!cfg.dataTestEnabled)
    assert(cfg.dataTestSampleSize === 100L)
    assert(cfg.dataTestPassThreshold === 0.7)
    assert(cfg.maxOrphanPercentage === 0.2)
    assert(cfg.distributionSimilarityThreshold === 0.5)
    // performance.cache_ttl_hours binds to the relationship-cache TTL
    assert(cfg.cacheTtlHours === 48)
    assert(cfg.cacheTtlMs === 48L * 3600 * 1000)
    assert(cfg.cacheEnabled)
    // cache_enabled=false binds too (GraftEngine.relationshipsCached bypasses)
    val noCache = ConfigLoader.loadPatternConfig(
      write("perf", """{"performance": {"cache_enabled": false}}"""))
    assert(!noCache.cacheEnabled)
    assert(noCache.cacheTtlHours === DetectionConfig().cacheTtlHours)
    // absent sections keep defaults
    val d = DetectionConfig()
    assert(cfg.minConfidence === d.minConfidence)
  }

  test("custom rules file: reference key names load as CustomRule/NamingRule") {
    val path = write("rules", """{
      "relationships": [
        {"source_table": "events", "source_column": "user_id",
         "target_table": "customer", "target_column": "c_custkey",
         "relationship_type": "many_to_one", "confidence": 0.9}
      ],
      "naming_patterns": [
        {"pattern": "^(.+)_id$", "target_suffix": "s", "confidence": 0.8},
        {"pattern": ".*_key$", "target_suffix": "", "confidence": 0.7}
      ]
    }""")
    val (rules, naming) = ConfigLoader.loadCustomRules(path)
    assert(rules === Seq(CustomRule("events", "user_id", "customer", "c_custkey")))
    assert(naming.head === NamingRule("^(.+)_id$", "s", 0.8))
    // group-less pattern gets wrapped so group(1) = full name (reference
    // relationship_detector.py:698-700 semantics)
    assert(naming(1) === NamingRule("(.*_key$)", "", 0.7))
  }

  test("file-loaded config detects identically to code-constructed config on sf0.001") {
    val rulesPath = write("rules2", """{
      "relationships": [
        {"source_table": "events", "source_column": "user_id",
         "target_table": "customer", "target_column": "c_custkey"}
      ]
    }""")
    val patternsPath = write("patterns2", """{
      "filtering_rules": {"max_relationships_per_table": 3,
                          "min_confidence_threshold": 0.5}
    }""")
    val cols = new graft.GraftEngine(spark, sf0001).classifiedColumns
    val (loadedRules, loadedNaming) = ConfigLoader.loadCustomRules(rulesPath)
    val fromFile = RelationshipDetector
      .detect(cols, loadedRules, loadedNaming, ConfigLoader.loadPatternConfig(patternsPath))
      .collect().toSet
    val fromCode = RelationshipDetector
      .detect(cols, Seq(CustomRule("events", "user_id", "customer", "c_custkey")), Nil,
        DetectionConfig())
      .collect().toSet
    assert(fromFile === fromCode)
    assert(fromFile.nonEmpty)
  }
}
