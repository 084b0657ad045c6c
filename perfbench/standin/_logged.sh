#!/bin/sh
# Runs one CRANKER stand-in stage unchanged and appends one line to
# $PERFBENCH_TOOL_LOG: stage, start ns, end ns, exit code, bytes of the
# first argument (the stage input) and of the last (the stage output).
# $PERFBENCH_STANDIN_DIR is the binary_dir the stage really lives in.
stage=$1
shift
for last; do :; done
t0=$(date +%s%N)
"$PERFBENCH_STANDIN_DIR/run_cranker_$stage.sh" "$@"
rc=$?
t1=$(date +%s%N)
in_bytes=$(wc -c < "$1" 2>/dev/null || echo 0)
out_bytes=$(wc -c < "$last" 2>/dev/null || echo 0)
echo "$stage $t0 $t1 $rc $in_bytes $out_bytes" >> "$PERFBENCH_TOOL_LOG"
exit $rc
