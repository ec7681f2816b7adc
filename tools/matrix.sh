#!/bin/bash
# The round's full verification matrix as one command. Runs the
# correctness gate (Verify + tools/selfcheck.py) across every
# environment cell, then the negative control. Each cell writes to its
# own dir under /tmp/graft_matrix; a cell failure prints FAIL and the
# script continues (so one red cell doesn't hide the others), exiting
# nonzero at the end if anything failed.
#
#   bash tools/matrix.sh [MATRIX_rN.json]
#
# Every run EMITS a committed artifact (default MATRIX_r13.json; the
# next round passes its own name): ok/count per cell, plus the
# negative-control envelope. DocsConsistencySpec pins the artifact's
# cell list to this script, so a cell added here without a fresh
# artifact (or an artifact from a stale script) fails the build.
#
# Cells:
#   base      sf0.01, 32 cores (the driver's own configuration)
#   sf0001    sf0.001, 32 cores (smallest fixture)
#   cpus4     sf0.01, 4 cores (partition-count invariance)
#   ansi_off  spark.sql.ansi.enabled=false (arithmetic mode)
#   rocksdb   RocksDB state-store provider forced globally
#   tz_ny     spark.sql.session.timeZone=America/New_York (instant semantics)
#   no_cg     whole-stage codegen + codegen factory off (interpreted twins)
#   aqe_off   spark.sql.adaptive.enabled=false (AQE is perf-only)
#   tr_locale Turkish JVM default locale (-Duser.language=tr): every
#             default-locale case fold in any path the gate touches
#             (the i/I pathology) — the full-gate twin of LocaleSpec
#   negctl    sf0.01 output vs sf0.1 oracles — must FAIL on every key
#             except the NAMED SF-independent allowance below (pure
#             DNS/sketch fixtures whose oracles replay a construction,
#             not parquet data). The allowance is an exact SET, not a
#             count: an accidentally SF-independent new key (weak gate)
#             fails the matrix instead of silently consuming headroom,
#             and a listed key that unexpectedly FAILS surfaces too.
set -u
cd /root/repo
BASE=/tmp/graft_matrix
OUT=${1:-MATRIX_r19.json}

# The SF-independent allowance, one key per line (r17: + q_dns_ratelimit
# and q_dns_available_now, pure-fixture admission-control lifecycles;
# r18: + q_dns_merge, pure-fixture MERGE INTO lifecycle; the
# q_dns_zone_pruned/limit/topn/offset probes are one key,
# q_dns_pushdown, and q_dns_sql is q_dns_read). DocsConsistencySpec
# pins every name here to a gated key.
SF_INDEPENDENT="q_distinct_estimate
q_dns_auto_broadcast
q_dns_ignore_failures
q_dns_ixfr
q_dns_merge
q_dns_metadata_cols
q_dns_overwrite
q_dns_pushdown
q_dns_pushed_count
q_dns_ratelimit
q_dns_available_now
q_dns_read
q_dns_roundtrip
q_dns_runtime_prune
q_dns_spj
q_dns_sql_delete
q_dns_sql_insert
q_dns_stream
q_dns_stream_sink
q_dns_validate
q_dns_zone_change
q_tws_metadata"
mkdir -p "$BASE"
rc=0
cells_json=""

record() { # name ok count
  cells_json="$cells_json$([ -n "$cells_json" ] && echo ,)\"$1\":{\"ok\":$2,\"count\":$3}"
}

cell() { # name sfdir cpus conf [jvmopts]
  local name=$1 sfdir=$2 cpus=$3 conf=$4 jvmopts=${5:-}
  local out="$BASE/$name"
  rm -rf "$out"
  echo "=== cell $name (sf=$sfdir cpus=$cpus conf='$conf' jvm='$jvmopts') ==="
  if ! SPARK_GRAFT_CPUS=$cpus SPARK_GRAFT_CONF="$conf" SPARK_GRAFT_JVM_OPTS="$jvmopts" \
      sbt -batch "runMain graft.Verify $sfdir $out" >/dev/null 2>&1; then
    echo "FAIL $name: Verify exited nonzero"; rc=1; record "$name" false 0; return
  fi
  local n
  n=$(ls "$out" | grep -c '^q')
  if python3 tools/selfcheck.py "$sfdir" "$out" 2>/dev/null | grep -q "FAILURES: 0"; then
    echo "OK   $name ($n)"
    record "$name" true "$n"
  else
    echo "FAIL $name:"; python3 tools/selfcheck.py "$sfdir" "$out" 2>/dev/null | grep '^FAIL'
    rc=1; record "$name" false "$n"
  fi
}

cell base     /root/testdata/sf0.01  32 ""
cell sf0001   /root/testdata/sf0.001 32 ""
cell cpus4    /root/testdata/sf0.01  4  ""
cell ansi_off /root/testdata/sf0.01  32 "spark.sql.ansi.enabled=false"
cell rocksdb  /root/testdata/sf0.01  32 "spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
cell tz_ny    /root/testdata/sf0.01  32 "spark.sql.session.timeZone=America/New_York"
cell no_cg    /root/testdata/sf0.01  32 "spark.sql.codegen.wholeStage=false;spark.sql.codegen.factoryMode=NO_CODEGEN"
cell aqe_off  /root/testdata/sf0.01  32 "spark.sql.adaptive.enabled=false"
cell tr_locale /root/testdata/sf0.01 32 "" "-Duser.language=tr -Duser.country=TR"

echo "=== negative control: base output vs sf0.1 oracles (must mass-FAIL) ==="
negout=$(python3 tools/selfcheck.py /root/testdata/sf0.1 "$BASE/base" 2>/dev/null)
nfail=$(echo "$negout" | grep -cE '^FAIL ')
nok=$(echo "$negout" | grep -cE '^OK ')
echo "negctl: $nfail FAIL / $nok OK"
# SET comparison against the named allowance: OK keys must be exactly
# the SF-independent list — a new accidentally-SF-independent key OR a
# listed key that unexpectedly fails both flag the control.
okkeys=$(echo "$negout" | awk '/^OK /{print $2}' | sort)
expected=$(echo "$SF_INDEPENDENT" | sort)
negok=true
if [ "$okkeys" != "$expected" ]; then
  echo "FAIL negctl: SF-independent OK set diverges from the named allowance:"
  diff <(echo "$expected") <(echo "$okkeys") | sed 's/^/  /'
  rc=1; negok=false
fi
if [ "$nfail" -lt 100 ]; then echo "FAIL negctl: only $nfail wrong-SF failures"; rc=1; negok=false; fi

printf '{"cells":{%s},"negctl":{"ok":%s,"fail_count":%s,"sf_independent_ok":%s,"max_sf_independent":%s},"rc":%s}\n' \
  "$cells_json" "$negok" "$nfail" "$nok" "$(echo "$SF_INDEPENDENT" | wc -l)" "$rc" > "$OUT"
echo "=== matrix done, rc=$rc -> $OUT ==="
exit $rc
