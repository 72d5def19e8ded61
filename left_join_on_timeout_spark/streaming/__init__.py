"""Streaming tier: the reference's actual domain (a Kafka Streams
operator), re-expressed on Structured Streaming.

* ``timeout_join`` — watermarked stream-stream ``leftOuter`` join: the
  watermark passing ``left.ts + window + timeout_gap`` plays the role of
  the reference's wall-clock timer (O3/O4/O5 implicit; O9/O10 come from
  checkpointing). ``state_partitions`` sizes the join streams the library
  starts at one state-store instance per core; ``start_conf`` is the one
  place that flips session conf around a query's ``start()``.
* ``timer_join`` — exact-timer parity variant: explicit per-key list
  state + timers reproducing the reference's mechanism and its
  cancel-all-per-key quirk behind ``strict_reference_semantics``.
  Semantics core in ``timer_core`` (pure Python); adapters on
  ``applyInPandasWithState`` (default, runs everywhere) and
  ``transformWithStateInPandas`` (PySpark 4.x native, needs protobuf).
* ``harness`` — bounded drains: every registered streaming query runs
  through its one primitive, ``drain_stream`` (stage → ``readStream``
  → memory or ``foreachBatch`` sink → ``processAllAvailable`` → stop),
  which deletes its staged inputs and checkpoint once the query stops;
  ``run_timeout_join_stream`` / ``run_timer_join_stream`` /
  ``run_tws_join_stream`` wrap it with one flush row per side.
"""
