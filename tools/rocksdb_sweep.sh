#!/usr/bin/env bash
# RocksDB state-store sweep (round-9 verdict task #8): re-run every
# stateful streaming spec under the RocksDB provider in ONE command.
#
# The default suite runs on the HDFS-backed in-memory provider; production
# deployments at 100 TB state run RocksDB, whose semantics differ in ways
# that have bitten real pipelines (value iterator invalidation, changelog
# checkpointing, native memory). The default suite already pins RocksDB
# for a few tests (the OTP correlation end-to-end test, the monotone
# guard, StateInspect's change feed); this sweep pushes every stateful
# operator (OTP correlation, the monotone guard and idempotent sinks, the
# ingest pipeline, the HTTP loop, the full §3.1 connector lifecycle)
# through it.
#
# Mechanism: GRAFT_STATE_PROVIDER is forwarded by build.sbt into the
# forked test JVM as -Dspark.sql.streaming.stateStore.providerClass=...,
# which SparkConf ingests globally — every streaming query in the run
# uses RocksDB without any spec change.
#
# Usage: tools/rocksdb_sweep.sh          Exit 0 iff all specs pass.
set -u
cd "$(dirname "$0")/.."

GRAFT_STATE_PROVIDER=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider \
exec sbt -batch "testOnly \
  graft.streaming.OtpCorrelationSpec \
  graft.streaming.StreamOpsSpec \
  graft.streaming.StateInspectSpec \
  graft.streaming.IngestPipelineSpec \
  graft.streaming.GrafteventsLifecycleSpec \
  graft.streaming.HttpLoopSpec"
