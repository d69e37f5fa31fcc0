"""Shell completion generator (reference ``completion.py`` — there via
click's completion machinery; here as self-contained scripts, stdlib only).

    python -m bm25_index_tool_spark.cli completion bash  >> ~/.bashrc
    python -m bm25_index_tool_spark.cli completion zsh   >> ~/.zshrc
    python -m bm25_index_tool_spark.cli completion fish  > ~/.config/fish/completions/bm25-spark.fish

Completes subcommands and their flags; index names complete from the
registry at ``$BM25_SPARK_ROOT`` when it exists.
"""

from __future__ import annotations

PROG = "bm25-spark"

COMMANDS: dict[str, list[str]] = {
    "create": ["--corpus", "--profile", "--k1", "--b", "--bm25-profile",
               "--buckets", "--blocks", "--vector", "--overwrite"],
    "query": ["-n", "--top", "--merge", "--format", "--fragments",
              "--path-filter", "--exclude-path", "--engine",
              "--related-to", "--semantic"],
    "batch": ["-i", "--input", "-n", "--top"],
    "update": ["--corpus"],
    "compact": ["--tiered"],
    "ann": ["-m", "--cells"],
    "stats": [],
    "info": ["--format"],
    "list": [],
    "delete": [],
    "history": ["--search", "-n", "--top", "--clear", "--stats"],
    "completion": [],
    "embedders": [],
}

_GLOBAL = ["--root", "--cpus"]


def _bash() -> str:
    cmds = " ".join(COMMANDS)
    cases = "\n".join(
        f'        {cmd}) opts="{" ".join(flags + _GLOBAL)}";;'
        for cmd, flags in COMMANDS.items()
    )
    return f"""# bash completion for {PROG} — generated by completion.py
_{PROG.replace("-", "_")}_complete() {{
    local cur cmd opts
    cur="${{COMP_WORDS[COMP_CWORD]}}"
    cmd=""
    for w in "${{COMP_WORDS[@]:1}}"; do
        case "$w" in -*) ;; *) cmd="$w"; break;; esac
    done
    if [[ -z "$cmd" || "$cmd" == "$cur" ]]; then
        COMPREPLY=($(compgen -W "{cmds}" -- "$cur")); return
    fi
    case "$cmd" in
{cases}
        *) opts="";;
    esac
    if [[ "$cur" == -* ]]; then
        COMPREPLY=($(compgen -W "$opts" -- "$cur")); return
    fi
    # index names from the registry
    local root="${{BM25_SPARK_ROOT:-$HOME/.bm25-spark}}"
    if [[ -f "$root/registry.json" ]]; then
        COMPREPLY=($(compgen -W "$(python3 -c 'import json,sys;print(" ".join(json.load(open(sys.argv[1]))))' "$root/registry.json" 2>/dev/null)" -- "$cur"))
    fi
}}
complete -F _{PROG.replace("-", "_")}_complete {PROG}
"""


def _zsh() -> str:
    lines = [f"#compdef {PROG}", f"# zsh completion for {PROG} — generated"]
    lines.append("_arguments -C \\")
    lines.append('  "1:command:(' + " ".join(COMMANDS) + ')" \\')
    lines.append('  "*::arg:->args"')
    lines.append("case $words[1] in")
    for cmd, flags in COMMANDS.items():
        opts = " ".join(flags + _GLOBAL)
        lines.append(f"  {cmd}) _arguments {' '.join(repr(o) for o in opts.split())} ;;")
    lines.append("esac")
    return "\n".join(lines) + "\n"


def _fish() -> str:
    out = [f"# fish completion for {PROG} — generated"]
    for cmd in COMMANDS:
        out.append(
            f"complete -c {PROG} -n '__fish_use_subcommand' -a {cmd}"
        )
        for flag in COMMANDS[cmd]:
            if flag.startswith("--"):
                out.append(
                    f"complete -c {PROG} -n '__fish_seen_subcommand_from {cmd}' -l {flag[2:]}"
                )
    return "\n".join(out) + "\n"


def generate(shell: str) -> str:
    gens = {"bash": _bash, "zsh": _zsh, "fish": _fish}
    if shell not in gens:
        raise ValueError(f"unsupported shell {shell!r}; expected one of {sorted(gens)}")
    return gens[shell]()
