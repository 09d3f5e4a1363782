"""fluent_bit_spark — a from-scratch, PySpark-native log/telemetry
analytics engine with the query and data-processing capabilities of
Fluent Bit (reference: tanmaya-panda1/fluent-bit, studied read-only at
/root/reference).

This is NOT a port. The reference is a single-process, event-loop,
msgpack-record-at-a-time C agent; this package re-expresses its operator
semantics (parse -> filter/enrich -> tag-route -> output -> SQL stream
aggregation) as declarative Spark DataFrame plans so Catalyst/Tungsten
pick the physical strategy and the job scales across executors.

Layout
------
semantics   Fluent Bit comparison/truthiness/coercion semantics as Column
            helpers (reference: src/stream_processor/flb_sp.c:790-1046).
accessor    record-accessor path compiler ($key['sub'], $TAG[n], $0..$9)
            (reference: src/record_accessor/ra.l, flb_record_accessor.c).
sqltext     SQL-text literals and identifiers: the per-pass plan builders
            emit one F.expr per column instead of Column call chains.
timefmt     strptime -> Spark datetime pattern translation incl. %L
            fractions and year-less formats (src/flb_parser.c:248-335).
parsers     regex/json/logfmt/ltsv parsers as vectorized transforms
            (src/flb_parser_regex.c, _json.c, _logfmt.c, _ltsv.c).
filters     grep/modify/record_modifier/nest/type_converter/expect/
            throttle/sampling (plugins/filter_*).
router      tag glob compiler, conditional routes, rewrite_tag, multi-sink
            writer with observe() counters (src/flb_router.c,
            src/flb_conditionals.c, plugins/filter_rewrite_tag).
sqlsp       the stream-processor SQL subset -> DataFrame plans
            (src/stream_processor/).
fbrecord    dynamic (schemaless) record encoding as a JVM-native tagged
            map column.
webgen      deterministic Common-Crawl-shape input table generator.
multiline   multiline joining as windowed sessionization (+ CRI/docker
            partial-line modes).
processors  content_modifier / sampling / log_to_metrics / scripted
            (lua-analogue) processor units.
config      classic + yaml fluent-bit.conf parsing -> pipeline execution.
metrics     METRICS event class (processor_labels, metrics_selector).
profiles    PROFILES event class (pprof sample rows, encode-as-log
            bridge) — all four chunk classes of flb_input_chunk.c
            modeled.
lua_recipes stock filter_lua scripts as vectorized batch recipes
            (append_tag / override_time / drop / replace / rate_limit).
kube        filter_kubernetes analogue (tag meta + merge_log).
msgpackfmt  msgpack pack/unpack + forward-protocol payload decode.
enrich      broadcast lookup joins, CIDR GeoIP, checklist, env metadata.
bucketing   bucketed co-located joins (zero-exchange large-large joins).
skew        salted repartitioning + two-stage de-skew aggregation.
streaming   Structured Streaming surface (in_tail follow + checkpoint
            resume, in_dummy, watermarked windowed metrics).
pipeline    parse -> filter/enrich -> route -> aggregate orchestration with
            lineage + metrics + checkpoint/resume.
dataops     training-data-pipeline operations: dedup (exact/minhash/
            simhash/ngram/embedding), similarity search, text analysis,
            PII detection/redaction, vectorized inference, multimodal
            column plumbing.
httpingest  in_http / Splunk HEC / ES bulk protocol semantics over a
            spool-sidecar transport.
"""

__version__ = "0.1.0"
