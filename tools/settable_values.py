#!/usr/bin/env python3
"""Count the library's settable values: defaulted parameters and env vars.

    python3 tools/settable_values.py [--list] [repo]

Counts, over `src/main/scala`:
  - the defaulted parameters of every non-private `def` (a `def` marked
    `private` or `private[...]` is skipped);
  - the defaulted constructor parameters of every non-private case class;
and the distinct environment variables that `src/main/scala` and `build.sbt`
read (`sys.env.get/getOrElse/contains/apply(...)`, `sys.env(...)`,
`System.getenv(...)` with a literal name).

Comments and string literals are blanked before matching, so a name in a
docstring or a `"="` in a default value does not count. Prints one JSON line
of totals; with `--list`, first prints one tab-separated line per counted
name (`param  <file>:<line>  <owner>.<param>`, `env  <name>`).
"""
import json
import re
import sys
from pathlib import Path


CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")


def blank(src):
    """`src` with comments and the text of string/char literals replaced by
    spaces. The code inside an interpolation `${...}` is kept (a default may
    read an env var there); newlines are kept so offsets map to lines."""
    out = list(src)
    n = len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def string(i):
        # i is at the opening quote; wipes the literal's text, returns the
        # index after it
        interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
        triple = src.startswith('"""', i)
        j = i + (3 if triple else 1)
        start = i
        while j < n:
            if triple and src.startswith('"""', j):
                j += 3
                while j < n and src[j] == '"':  # """a"""" ends at the last quote
                    j += 1
                break
            c = src[j]
            if not triple and c == "\\":
                j += 2
                continue
            if not triple and c == '"':
                j += 1
                break
            if interpolated and src.startswith("${", j):
                wipe(start, j)
                j = code(j + 2, closing="}")
                start = j - 1
                continue
            j += 1
        wipe(start, j)
        return j

    def code(i, closing=None):
        # scans code from i; with `closing`, stops after the brace that
        # balances an already-open one
        depth = 0
        while i < n:
            c = src[i]
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                wipe(i, j)
                i = j
            elif src.startswith("/*", i):
                d, j = 1, i + 2
                while j < n and d:
                    if src.startswith("/*", j):
                        d, j = d + 1, j + 2
                    elif src.startswith("*/", j):
                        d, j = d - 1, j + 2
                    else:
                        j += 1
                wipe(i, j)
                i = j
            elif c == '"':
                i = string(i)
            elif c == "'" and CHAR.match(src, i):
                j = CHAR.match(src, i).end()
                wipe(i, j)
                i = j
            else:
                if closing and c == "{":
                    depth += 1
                elif closing and c == "}":
                    if depth == 0:
                        return i + 1
                    depth -= 1
                i += 1
        return i

    code(0)
    return "".join(out)


OPEN, CLOSE = "([{", ")]}"


def group_end(text, i):
    """Index after the bracket group opening at `i`."""
    depth = 0
    for j in range(i, len(text)):
        if text[j] in OPEN:
            depth += 1
        elif text[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(text)


def split_top(text, sep):
    parts, depth, start = [], 0, 0
    for j, c in enumerate(text):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[start:j])
            start = j + 1
    parts.append(text[start:])
    return parts


def has_default(param):
    """True when the parameter has a depth-0 `=` that is not part of an
    operator (`=>`, `==`, `<=`, `>=`, `!=`)."""
    depth = 0
    for j, c in enumerate(param):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "=" and depth == 0:
            prev = param[j - 1] if j else ""
            nxt = param[j + 1] if j + 1 < len(param) else ""
            if nxt not in "=>" and prev not in "=<>!":
                return True
    return False


DECL = re.compile(r"\b(def|case\s+class)\s+([^\s(\[:=]+)")
PRIVATE = re.compile(r"\bprivate(\s*\[\s*\w+\s*\])?\s+((override|final|implicit|lazy|sealed|abstract)\s+)*$")


def defaulted_params(path, text):
    for m in DECL.finditer(text):
        if PRIVATE.search(text[max(0, m.start() - 80):m.start()]):
            continue
        i = m.end()
        while i < len(text) and text[i].isspace():
            i += 1
        if i < len(text) and text[i] == "[":
            i = group_end(text, i)
        while True:
            while i < len(text) and text[i].isspace():
                i += 1
            if i >= len(text) or text[i] != "(":
                break
            end = group_end(text, i)
            for p in split_top(text[i + 1:end - 1], ","):
                if has_default(p):
                    name = re.sub(r"^\s*(implicit|using)\s+", "", p)
                    name = re.sub(r"^\s*((override|private|protected|val|var)\s+)*", "", name)
                    name = name.split(":")[0].strip()
                    line = text.count("\n", 0, i) + 1
                    yield f"{path}:{line}", f"{m.group(2)}.{name}"
            i = end


ENV = re.compile(
    r"(?:\bsys\.env(?:\.(?:get|getOrElse|contains|apply))?|\bSystem\.getenv)\s*\(\s*\"([A-Za-z_][A-Za-z0-9_]*)\"")


def env_vars(src):
    """Env var names read with a literal name. The name is itself a string
    literal, so the match runs on `src`; a match counts when its call is
    code in the blanked text, not comment or string text."""
    code = blank(src)
    return {m.group(1) for m in ENV.finditer(src) if code[m.start()] != " "}


def main(argv):
    listing = "--list" in argv
    args = [a for a in argv if a != "--list"]
    root = Path(args[0] if args else Path(__file__).resolve().parent.parent)
    main_dir = root / "src" / "main" / "scala"

    params, envs = [], set()
    for f in sorted(main_dir.rglob("*.scala")):
        src = f.read_text()
        rel = f.relative_to(root)
        params.extend(defaulted_params(rel, blank(src)))
        envs |= env_vars(src)
    sbt = root / "build.sbt"
    if sbt.exists():
        envs |= env_vars(sbt.read_text())

    if listing:
        for where, name in params:
            print(f"param\t{where}\t{name}")
        for name in sorted(envs):
            print(f"env\t{name}")
    print(json.dumps({"defaulted_params": len(params), "env_vars": len(envs),
                      "settable_values": len(params) + len(envs)}))


if __name__ == "__main__":
    main(sys.argv[1:])
