"""sparkcollector — a PySpark-native log/telemetry analytics engine.

A from-scratch reimplementation of the *capabilities* of the Splunk
OpenTelemetry Collector (signalfx/splunk-otel-collector) as a batch
parse → enrich → route → aggregate pipeline over tables of multi-turn
agent transcripts, expressed entirely in the public PySpark DataFrame
API (Catalyst-optimized; the pipeline itself runs no Python, and
pandas/Arrow kernels appear only inside some registry operators).

Module map (see SURVEY.md §7.1):
  schema      transcripts + sink schemas (BASELINE.json input_hint)
  synth       deterministic synthetic transcript generator
  parse       regexp_extract field extraction (stanza regex_parser /
              severity / timestamp operators)
  enrich      broadcast lookup joins (extra-dimension / resource enrich)
  filters     BasicStringFilter / OverridableStringFilter semantics as
              Column-predicate compilers
  route       routing-connector semantics: predicate fan-out to sinks
  aggregate   count/sum connector analogs; salted skew-safe groupBy
  skew        parallelism restore, key salting, skew reports
  checkpoint  snapshot catalog (Iceberg-style) with per-partition
              lineage + resume
  job         spark-submit entrypoint wiring all phases
  operators/  training-data-pipeline extensions: dedup, similarity,
              text statistics, multimodal plumbing, window/metric ops
"""

__version__ = "0.1.0"
