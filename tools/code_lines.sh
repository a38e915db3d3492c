#!/bin/sh
# Prints the code-line count of src/main: every .scala line that is not
# blank, a // comment or a scaladoc/block-comment line.
# Usage: tools/code_lines.sh
cd "$(dirname "$0")/.." || exit 1
find src/main -name '*.scala' | xargs cat | grep -v '^\s*\*\|^\s*/\*\*\|^\s*//\|^\s*$' | wc -l
