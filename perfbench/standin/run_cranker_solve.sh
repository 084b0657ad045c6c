#!/bin/sh
# Logging copy of run_cranker_solve.sh for the traced run (see _logged.sh).
exec "$(dirname "$0")/_logged.sh" solve "$@"
