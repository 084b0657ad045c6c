#!/bin/sh
# Logging copy of run_cranker_write.sh for the traced run (see _logged.sh).
exec "$(dirname "$0")/_logged.sh" write "$@"
