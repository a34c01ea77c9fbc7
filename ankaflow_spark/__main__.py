"""CLI: run a YAML pipeline (reference surface: ``ankaflow
pipeline.yaml`` — cli.py:37-146; same shape, Spark engine).

    python -m ankaflow_spark pipeline.yaml [--var k=v ...] [--out out.parquet]

Storage connections are configured from environment variables, exactly
as the reference CLI does (cli.py:37-56): AWS_DEFAULT_BUCKET /
AWS_REGION / AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY for S3,
GOOGLE_STORAGE_BUCKET / GS_HMAC_KEY_ID / GS_HMAC_SECRET for GCS,
GOOGLE_CLOUD_PROJECT / GOOGLE_APPLICATION_CREDENTIALS for BigQuery.
The template context exposes ``context.env`` (the environment) and
``context.user`` (from ``--context k=v``).
"""

from __future__ import annotations

import argparse
import os
import sys


def _parse_keyvals(pairs):
    out = {}
    for kv in pairs:
        k, sep, v = kv.partition("=")
        if not sep:
            raise SystemExit(f"invalid key=value: {kv!r}")
        out[k] = v
    return out


def _resolve_yaml_path(path_arg: str) -> str:
    """'DEMO' maps to the bundled demo pipeline (reference cli.py
    resolve_yaml_path). Resolved as package data so an installed wheel
    works; a source checkout's examples/demo.yaml is the fallback."""
    if path_arg.upper() == "DEMO":
        try:
            from importlib.resources import files

            pkg = files("ankaflow_spark") / "examples" / "demo.yaml"
            if pkg.is_file():
                return str(pkg)
        except (ImportError, OSError):  # package data not importable or not readable
            pass
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        candidate = os.path.join(here, "examples", "demo.yaml")
        if not os.path.exists(candidate):
            raise SystemExit(
                "DEMO pipeline not found: expected packaged "
                "ankaflow_spark/examples/demo.yaml or a source checkout's "
                f"examples/demo.yaml (looked at {candidate})"
            )
        return candidate
    return path_arg


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="ankaflow_spark", description=__doc__)
    parser.add_argument(
        "pipeline", help="YAML pipeline file (or DEMO for the bundled demo flow)"
    )
    parser.add_argument(
        "-v", "--variable", "--var", dest="var", action="append", default=[],
        help="variable k=v",
    )
    parser.add_argument(
        "-c", "--context", action="append", default=[], help="context k=v"
    )
    parser.add_argument(
        "-o", "--output", nargs=2, metavar=("FORMAT", "PATH"),
        help="write final dataframe as FORMAT (parquet/csv/json) to PATH",
    )
    parser.add_argument("--out", help="write final stage to this file (format from extension)")
    parser.add_argument("-l", "--log", help="path to log file")
    parser.add_argument("--verbose", action="store_true", help="DEBUG logging")
    parser.add_argument("--show", type=int, default=0, help="print N rows of the final stage")
    args = parser.parse_args(argv)

    # configure logging only for a real CLI invocation (argv is None) or
    # when explicitly asked — embedding callers keep their own config
    if argv is None or args.log or args.verbose:
        import logging

        level = logging.DEBUG if args.verbose else logging.INFO
        handlers = [logging.StreamHandler(sys.stdout)]
        if args.log:
            handlers.append(logging.FileHandler(args.log))
        logging.basicConfig(
            level=level,
            format="%(asctime)s %(levelname)s: %(message)s",
            datefmt="%Y-%m-%d %H:%M:%S",
            handlers=handlers,
            force=True,
        )

    from .models.configs import ConnectionConfiguration
    from .models.core import Stages
    from .plans.flow import Flow

    variables = _parse_keyvals(args.var)
    context = {"env": dict(os.environ), "user": _parse_keyvals(args.context)}

    flow = Flow(
        Stages.load(_resolve_yaml_path(args.pipeline)),
        context=context,
        variables=variables,
        conn_config=ConnectionConfiguration.from_env(),
    )
    df = flow.run()
    if df is None:
        print("pipeline produced no output stage", file=sys.stderr)
        return 1
    if args.show:
        df.show(args.show)

    def write(fmt: str, path: str) -> None:
        pdf = df.toPandas()
        if fmt == "csv":
            pdf.to_csv(path, index=False)
        elif fmt == "json":
            pdf.to_json(path, orient="records")
        elif fmt == "parquet":
            pdf.to_parquet(path, index=False)
        else:
            raise SystemExit(f"unsupported output format: {fmt}")

    if args.output:
        write(args.output[0].lower(), args.output[1])
    if args.out:
        ext = args.out.rsplit(".", 1)[-1].lower()
        write(ext if ext in ("csv", "json") else "parquet", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
