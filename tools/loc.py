"""Count code lines of Scala sources: every line that holds something
outside a comment. Blank lines, `//` comment lines and the lines of
`/* ... */` blocks (scaladoc included, nested blocks as Scala nests them)
do not count, so deleting or rewording comments never moves the count.

    python3 tools/loc.py                 # every .scala file under src/main
    python3 tools/loc.py PATH [PATH ...] # files, or directories to walk
    python3 tools/loc.py --against REV [PATH ...]

Prints one `<code lines>  <path>` line per file, then `<total>  total`.
With `--against REV` (a git revision; run from the repository root) each
line is `<at REV>  <now>  <delta>  <path>`, over every file that exists
at either, so a deleted file shows `now` 0 and a new one `at REV` 0.
"""
import os
import subprocess
import sys


def code_lines(text):
    """The number of lines of `text` with a character outside comments.

    String literals (plain, interpolated, triple-quoted) and character
    literals are skipped as code, so a `//` or `/*` inside one opens no
    comment."""
    count = 0
    depth = 0          # nesting depth of /* */ blocks
    triple = False     # inside a """ string, which may span lines
    for line in text.splitlines():
        has_code = triple  # a line inside a triple-quoted string is code
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif triple:
                if line.startswith('"""', i):
                    triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = triple = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and (line[i + 1:i + 3].endswith("'")
                                     or line[i + 1:i + 2] == "\\"):
                has_code = True
                end = line.find("'", i + 3 if line[i + 1] == "\\" else i + 2)
                i = n if end < 0 else end + 1
            else:
                has_code = has_code or not line[i].isspace()
                i += 1
        count += has_code
    return count


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def files_at(rev, paths):
    """The .scala files under `paths` at git revision `rev`."""
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--"]
                         + paths, capture_output=True, text=True, check=True)
    return [p for p in out.stdout.splitlines() if p.endswith(".scala")]


def text_at(rev, path):
    return subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True,
                          text=True, check=True).stdout


def main(argv):
    rev = None
    if argv[:1] == ["--against"]:
        if len(argv) < 2:
            sys.exit("usage: loc.py --against REV [PATH ...]")
        rev, argv = argv[1], argv[2:]
    paths = argv or [os.path.join("src", "main", "scala")]
    now = {}
    for path in scala_files(paths):
        with open(path, encoding="utf-8") as f:
            now[os.path.normpath(path)] = code_lines(f.read())
    if rev is None:
        for path in sorted(now):
            print(f"{now[path]:7d}  {path}")
        print(f"{sum(now.values()):7d}  total")
        return
    before = {os.path.normpath(p): code_lines(text_at(rev, p))
              for p in files_at(rev, paths)}
    for path in sorted(set(before) | set(now)):
        a, b = before.get(path, 0), now.get(path, 0)
        print(f"{a:7d}  {b:7d}  {b - a:+7d}  {path}")
    a, b = sum(before.values()), sum(now.values())
    print(f"{a:7d}  {b:7d}  {b - a:+7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
