"""opentelemetry_collector_contrib_spark — a PySpark-native rebuild of the
OpenTelemetry Collector contrib *log pipeline* (parse → enrich → route →
aggregate), designed for trillion-row Iceberg/parquet token tables.

This is NOT a port of the Go reference (reakaleek/opentelemetry-collector-contrib).
The reference interprets closures per record; here every stage is a Spark
DataFrame transformation so Catalyst/Tungsten (whole-stage codegen, AQE,
partition pruning) do the physical planning.

Layout
------
- ``sources``    : deterministic tokens-table generator, tokenizer, readers
                   (filelog/otlp-json analogs — `receiver/*` in the reference)
- ``functions``  : column-level function library (OTTL converters, severity
                   mapping, deterministic sampling hash — `pkg/ottl/ottlfuncs`)
- ``operators``  : stanza-operator / processor analogs (parsers, transformers,
                   attributes, redaction, router, recombine, count connector —
                   `pkg/stanza/operator/*`, `processor/*`, `connector/*`)
- ``ottl``       : OTTL-subset parser + compiler → pyspark Column expressions
                   (`pkg/ottl/grammar.go`, plan-time compilation instead of
                   per-record closure interpretation)
- ``plans``      : end-to-end pipeline assembly + checkpointed exactly-once resume
- ``streaming``  : Structured Streaming variants (per-route file sink)
"""

__version__ = "0.1.0"
