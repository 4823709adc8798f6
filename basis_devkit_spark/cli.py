"""Command-line interface — ``python -m basis_devkit_spark <cmd>``.

Mirrors the reference CLI's local-relevant command set
(`/root/reference/patterns/cli/commands/*.py`): the reference's primary UX
is ``patterns upload/trigger/download/list/delete/config``; here the hosted
server is this process's Spark engine, so "upload" registers an app with a
storage root and the other commands operate on it.

Commands:
  create   app|node <loc> [...]      scaffold an app / add a node (create.py)
  upload   <app> [--root R]          validate graph.yml, register app with
                                     root + snapshot a graph version
  restore  --version N [dir]         extract an uploaded graph version with
                                     conflict protection (graph_versions.py)
  publish  <app> org/name@vN         publish app as a component (upload.py:74-97)
  run      [<app>] [--root R]        execute the full graph (topological)
  trigger  --node ID [<app>]         run one node immediately (trigger.py:20
                                     name resolution: node id or file path)
  explain  --node ID [--mode M]      rendered SQL + Spark physical plan
  list     nodes|stores|webhooks     enumerate graph objects (list.py)
  download --table T --out PATH      export a store (parquet/csv/jsonl by ext)
  export   --table T --out DIR       portable export: plain parquet + JSON
                                     descriptor [+ --history versions]
  import   --table T --src PATH      import an export dir (config/history
                                     restored) or raw parquet/csv/jsonl
  pull     org/name@vN [dir]         extract a published component with
                                     conflict protection (download.py:22-73)
  delete   --force [--root R]        deregister the app (delete.py; local
                                     files are never deleted)
  update   org/name@vN --deprecated  mark a published component deprecated
                                     (update.py: blocked for NEW apps only)
  config   [-o ORG]                  get/set resolved configuration (config.py)
  login    --user NAME [-o ORG]      create the local profile+token (login.py)
  logout                             clear the stored token (logout.py)
  whoami                             print the profile (accounts.py me())
  secret   create|list|delete ...    org-scoped secrets (services/secrets.py);
                                     values resolve in params as secret://name
  serve    [--port P]                HTTP webhook endpoint (create.py:177-197)
  schedule [--ticks N]               run the cron scheduler loop (A23)
  vacuum   [--keep N]                retention GC over graph stores

``main(argv, spark=...)`` is importable for in-process use/testing (the
reference tests its CLI in-process with CliRunner the same way).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any

_APP_REGISTRY = "_app.json"


def _root(args) -> str:
    return os.path.abspath(
        args.root
        or os.environ.get("BASIS_DEVKIT_SPARK_ROOT")
        or os.path.join(os.getcwd(), "store")
    )


def _registered_app(root: str) -> str | None:
    p = os.path.join(root, _APP_REGISTRY)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f).get("app")
    return None


def _engine(args, spark, app_required: bool = True):
    from basis_devkit_spark.engine import Engine

    root = _root(args)
    eng = Engine(spark, root)
    app = getattr(args, "app", None) or _registered_app(root)
    if app:
        eng.load_graph(app)
    elif app_required:
        raise SystemExit(
            "no app: pass an app path or `upload` one to this root first"
        )
    return eng


def _get_spark(spark):
    if spark is not None:
        return spark
    from basis_devkit_spark.session import get_spark

    return get_spark(app_name="basis-devkit-spark-cli")


def _out(obj: Any) -> None:
    print(json.dumps(obj, indent=2, default=str))


def cmd_upload(args, spark) -> int:
    from basis_devkit_spark.graph.loader import find_graph_file, load_graph
    from basis_devkit_spark.graph.versions import snapshot_graph

    root = _root(args)
    g = load_graph(args.app)  # validates
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, _APP_REGISTRY), "w") as f:
        json.dump({"app": os.path.abspath(args.app)}, f)
    # Every upload creates a graph version (services/graph_versions.py: the
    # hosted service snapshots each upload; locally it's a zip + manifest).
    app_dir = os.path.dirname(find_graph_file(args.app))
    ver = snapshot_graph(root, app_dir)
    _out(
        {
            "uploaded": os.path.abspath(args.app),
            "root": root,
            "graph_version": ver["version"],
            "nodes": [n.id for n in g.functions],
            "stores": sorted(g.store_names()),
        }
    )
    return 0


def cmd_run(args, spark) -> int:
    eng = _engine(args, _get_spark(spark))
    log = eng.run_graph(parallelism=getattr(args, "parallelism", None))
    _out({"run_log": log})
    return 0


def cmd_trigger(args, spark) -> int:
    eng = _engine(args, _get_spark(spark))
    # trigger.py:20 name resolution (node id / file name) is the engine's
    # _node_by_id_or_name; surface unknown-node errors as exit code 2.
    try:
        eng.trigger(args.node)
    except KeyError as exc:
        raise SystemExit(f"no such node: {exc}")
    _out({"triggered": args.node})
    return 0


def cmd_explain(args, spark) -> int:
    """Rendered SQL + Spark physical plan for a node (plan inspection —
    the `.explain("formatted")` loop the engine's own development uses,
    exposed to app authors)."""
    eng = _engine(args, _get_spark(spark))
    try:
        out = eng.explain_node(args.node, mode=args.mode)
    except KeyError as exc:
        raise SystemExit(f"no such node: {exc}")
    _out(out)
    return 0


def cmd_list(args, spark) -> int:
    if args.kind == "orgs":
        # Multi-org listing (services/lookup.py:36-210 + organizations.py):
        # every org known locally — see cli_config.known_organizations.
        from basis_devkit_spark.cli_config import (
            known_organizations,
            read_devkit_config,
        )

        cfg = read_devkit_config()
        rows = [
            {"organization": o, "default": o == cfg.organization_id}
            for o in sorted(known_organizations())
        ]
        _out(_paginate(rows, args))
        return 0
    if args.kind == "versions":
        from basis_devkit_spark.graph.versions import list_graph_versions

        _out(_paginate(list_graph_versions(_root(args)), args))
        return 0
    if args.kind == "history":
        # store version history (Table.history / DESCRIBE HISTORY analogue)
        if not getattr(args, "table", None):
            raise SystemExit("list history requires --table NAME")
        from basis_devkit_spark.storage.store import TableStore

        st = TableStore(_root(args), args.table, _get_spark(spark))
        if not st.exists:
            raise SystemExit(f"no such store: {args.table}")
        _out(_paginate(st.history(), args))
        return 0
    if args.kind == "apps":
        # Local analogue of list.py:27-40: the app registered at this root
        # plus every published component in the registry (with deprecation).
        import glob

        from basis_devkit_spark.graph.components import (
            default_registry,
            is_deprecated,
        )

        rows: list[dict[str, Any]] = []
        root = _root(args)
        app = _registered_app(root)
        if app:
            rows.append({"kind": "app", "path": app, "root": root})
        reg = default_registry()
        for p in sorted(glob.glob(os.path.join(reg, "*", "*@*"))):
            if not os.path.isdir(p):
                continue
            org = os.path.basename(os.path.dirname(p))
            key = f"{org}/{os.path.basename(p)}"
            rows.append(
                {
                    "kind": "component",
                    "key": key,
                    "deprecated": is_deprecated(key),
                }
            )
        _out(rows)
        return 0
    eng = _engine(args, _get_spark(spark))
    g = eng.graph
    assert g is not None
    if args.kind == "nodes":
        _out(
            [
                {"id": n.id, "kind": n.kind, "file": n.node_file}
                for n in g.functions
            ]
        )
    elif args.kind == "stores":
        rows = []
        for name in sorted(g.store_names()):
            st = eng.store(name)
            row = {
                "table": name,
                "exists": st.exists,
                "records": st.record_count,
                "version": st.get_active_version(),
            }
            viol = st.expectation_violations() if st.exists else {}
            if viol:
                row["expectation_violations"] = viol
            rows.append(row)
        _out(rows)
    else:  # webhooks (list.py:69-77)
        _out(
            [
                {"name": n.webhook, "url": f"/webhooks/{n.webhook}"}
                for n in g.functions
                if n.webhook
            ]
        )
    return 0


def cmd_download(args, spark) -> int:
    eng = _engine(args, _get_spark(spark), app_required=False)
    df = eng.store(args.table).read()
    out = args.out
    ext = out.rsplit(".", 1)[-1].lower()
    if ext == "parquet":
        df.write.mode("overwrite").parquet(out)
    elif ext == "csv":
        df.write.mode("overwrite").option("header", "true").csv(out)
    elif ext in ("json", "jsonl"):
        df.write.mode("overwrite").json(out)
    else:
        raise SystemExit(f"unsupported extension .{ext} (parquet/csv/jsonl)")
    _out({"downloaded": args.table, "to": out, "format": ext})
    return 0


def cmd_export(args, spark) -> int:
    """Export a managed table to a portable parquet+descriptor layout any
    engine can read (storage/interop.py — the way OUT of the proprietary
    manifest format)."""
    from basis_devkit_spark.storage.interop import export_table

    eng = _engine(args, _get_spark(spark), app_required=False)
    desc = export_table(
        eng.store(args.table), args.out, include_history=args.history
    )
    _out(
        {
            "exported": args.table,
            "to": args.out,
            "records": desc["record_count"],
            "versions": len(desc["versions"]),
        }
    )
    return 0


def cmd_import(args, spark) -> int:
    """Import an export dir (config + optional history restored) or any
    raw parquet/csv/jsonl path into a managed table."""
    from basis_devkit_spark.storage.interop import import_table

    eng = _engine(args, _get_spark(spark), app_required=False)
    res = import_table(
        eng.store(args.table),
        args.src,
        fmt=args.format,
        restore_history=args.history,
    )
    _out(res)
    return 0


def cmd_publish(args, spark) -> int:
    from basis_devkit_spark.graph.components import publish_component

    dst = publish_component(args.app, args.key, registry=args.registry)
    _out({"published": args.key, "at": dst})
    return 0


# Node-file scaffolds (create.py:229-244, adapted to this SDK's imports).
_PY_NODE_TEMPLATE = """\
# New python node: read connected inputs, write connected outputs.

from basis_devkit_spark import (
    Parameter,
    State,
    Table,
)
"""

_SQL_NODE_TEMPLATE = """\
-- Use {{ port }} to reference connected tables and {{ param }} for parameters.

select
"""


def cmd_create(args, spark) -> int:
    """Scaffold apps and nodes (create.py:23-206): `create app <dir>` writes
    a titled graph.yml; `create node <file>` adds a function node with a
    .py/.sql/graph.yml template; --type webhook|component|table edit the
    graph.yml the same way the reference does (webhook auto-creates its
    output table)."""
    import re as _re

    from basis_devkit_spark.graph.edit import GraphConfigEditor
    from basis_devkit_spark.graph.loader import find_graph_file, random_node_id

    if args.kind == "app":
        loc = args.location
        path = loc if loc.endswith((".yml", ".yaml")) else os.path.join(loc, "graph.yml")
        if os.path.exists(path):
            raise SystemExit(f"cannot create app: {path} already exists")
        name = args.name or os.path.basename(loc.rstrip("/")).rsplit(".", 1)[0]
        slug = _re.sub("[^a-zA-Z0-9-]+", "", _re.sub("[_ ]+", "-", name)).lower()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        GraphConfigEditor(path, read=False).set_name(name).set_slug(slug).write()
        _out({"created": "app", "graph": path, "name": name, "slug": slug})
        return 0

    # kind == "node"
    loc = args.location
    ntype = args.type
    if ntype == "function":
        if os.path.exists(loc):
            raise SystemExit(f"cannot create node: {loc} already exists")
        graph_file = (
            find_graph_file(args.app) if args.app
            else find_graph_file(os.path.dirname(os.path.abspath(loc)))
        )
        gdir = os.path.dirname(graph_file)
        node_file = os.path.relpath(os.path.abspath(loc), gdir).replace(os.sep, "/")
        base = os.path.basename(loc)
        title = args.title or (
            os.path.basename(os.path.dirname(loc)) if base == "graph.yml"
            else base.rsplit(".", 1)[0]
        )
        editor = GraphConfigEditor(graph_file)
        editor.add_node(title=title, node_file=node_file, id=random_node_id())
        # Write the node file last to avoid partial updates (create.py:148).
        if loc.endswith(".py"):
            content = _PY_NODE_TEMPLATE
        elif loc.endswith(".sql"):
            content = _SQL_NODE_TEMPLATE
        elif base == "graph.yml":
            os.makedirs(os.path.dirname(loc) or ".", exist_ok=True)
            GraphConfigEditor(loc, read=False).set_name(title).write()
            content = None
        else:
            raise SystemExit("node file must be graph.yml or end in .py or .sql")
        if content is not None:
            os.makedirs(os.path.dirname(os.path.abspath(loc)), exist_ok=True)
            with open(loc, "w") as f:
                f.write(content)
        editor.write()
        _out({"created": "node", "file": node_file, "graph": graph_file})
        return 0

    graph_file = find_graph_file(args.app or os.getcwd())
    editor = GraphConfigEditor(graph_file)
    if ntype == "webhook":
        editor.add_webhook(loc, id=random_node_id(), title=args.title or None)
        if not any(n.get("table") == loc for n in editor.store_nodes()):
            editor.add_table(loc, id=random_node_id())
    elif ntype == "component":
        from basis_devkit_spark.graph.components import is_deprecated

        # Deprecated components cannot be added to new apps (update.py
        # semantics); existing `uses:` nodes keep resolving.
        if is_deprecated(loc):
            raise SystemExit(f"component {loc} is deprecated")
        editor.add_component_uses(loc, title=args.title or None)
    elif ntype == "table":
        if args.title:
            raise SystemExit("tables cannot have titles")
        editor.add_table(loc)
    else:
        raise SystemExit(f"unknown node type {ntype}")
    editor.write()
    _out({"created": ntype, "name": loc, "graph": graph_file})
    return 0


def cmd_pull(args, spark) -> int:
    """Extract a published component into a working directory with
    conflict protection (download.py:22-73: extract when no content
    conflicts; otherwise print the diff and exit 1, or --force through)."""
    import zipfile
    from pathlib import Path

    from basis_devkit_spark.graph.components import component_path
    from basis_devkit_spark.graph.edit import (
        compress_directory,
        format_diffs,
        get_diffs_between_zip_and_dir,
    )

    src = component_path(args.key, registry=args.registry)
    if not src:
        raise SystemExit(f"component not published locally: {args.key}")
    dest = Path(args.directory or args.key.split("/")[-1].split("@")[0]).resolve()
    content = compress_directory(Path(src))
    with zipfile.ZipFile(content, "r") as zf:
        if args.force:
            zf.extractall(dest)
        else:
            conflicts = get_diffs_between_zip_and_dir(zf, dest, True)
            if conflicts.changed:
                print("pull would overwrite the following files:\n")
                print(format_diffs(conflicts, context=args.diff, full=False))
                print(
                    "\nrun this command with --force to overwrite local files"
                    + ("" if args.diff else ", or --diff to see differences")
                )
                return 1
            zf.extractall(dest)
    _out({"pulled": args.key, "to": str(dest)})
    return 0


def cmd_restore(args, spark) -> int:
    """Extract an uploaded graph version into a directory with conflict
    protection (graph_versions.py's restore path, pull semantics); with
    --table, Delta-style RESTORE TABLE on a managed store."""
    if getattr(args, "table", None):
        from basis_devkit_spark.storage.store import TableStore

        st = TableStore(_root(args), args.table, _get_spark(spark))
        if not st.exists:
            raise SystemExit(f"no such store: {args.table}")
        try:
            v = st.restore(args.version)
        except FileNotFoundError as exc:
            raise SystemExit(str(exc))
        _out({"table": args.table, "restored_from": args.version,
              "new_version": v, "records": st.record_count})
        return 0
    from basis_devkit_spark.graph.versions import restore_graph_version

    try:
        ok, diff = restore_graph_version(
            _root(args),
            args.version,
            args.directory or os.getcwd(),
            force=args.force,
            show_diff=args.diff,
        )
    except FileNotFoundError as exc:
        raise SystemExit(str(exc))
    if not ok:
        print("restore would overwrite the following files:\n")
        print(diff)
        print("\nrun this command with --force to overwrite local files")
        return 1
    _out({"restored": args.version, "to": args.directory or os.getcwd()})
    return 0


def cmd_delete(args, spark) -> int:
    """Deregister the app from a storage root (delete.py:13-31 — 'this will
    not delete any files locally'; the local 'studio' is the root dir)."""
    root = _root(args)
    p = os.path.join(root, _APP_REGISTRY)
    app = _registered_app(root)
    if app is None:
        raise SystemExit(f"no app registered at {root}")
    if not args.force:
        raise SystemExit("refusing to delete without --force")
    os.remove(p)
    _out({"deleted": app, "root": root})
    return 0


def cmd_update(args, spark) -> int:
    """Update component properties (update.py:22-44): --deprecated /
    --no-deprecated on a published component key."""
    from basis_devkit_spark.graph.components import set_deprecated

    if args.deprecated is None:
        raise SystemExit("nothing to update: pass --deprecated/--no-deprecated")
    set_deprecated(args.key, args.deprecated, registry=args.registry)
    _out({"updated": args.key, "deprecated": args.deprecated})
    return 0


def cmd_config(args, spark) -> int:
    """Get or set default values used by other commands (config.py:18-31:
    ``-o`` persists the default organization)."""
    from basis_devkit_spark.cli_config import (
        get_devkit_config_path,
        read_devkit_config,
        update_devkit_config,
    )

    if getattr(args, "organization", None):
        update_devkit_config(organization_id=args.organization)
    cfg = read_devkit_config()
    root = _root(args)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    _out(
        {
            "root": root,
            "app": _registered_app(root),
            # Mirror session.get_spark's master resolution (session.py:49-51).
            "spark_master": f"local[{cpus}]",
            "organization": cfg.organization_id,
            "logged_in": cfg.logged_in,
            "config_path": str(get_devkit_config_path()),
        }
    )
    return 0


def cmd_login(args, spark) -> int:
    """Log in: create the local profile + opaque token (login.py:14-51).
    The reference runs an OAuth browser flow against its hosted auth server
    and stores the bearer token in the devkit config; a local engine has no
    auth server, so the token is generated here — same config contract,
    same post-login output."""
    import secrets as _pysecrets

    from basis_devkit_spark.cli_config import (
        get_devkit_config_path,
        update_devkit_config,
    )

    email = args.email or f"{args.user}@localhost"
    org = args.organization or "local"
    update_devkit_config(
        organization_id=org,
        username=args.user,
        email=email,
        token=_pysecrets.token_hex(16),
    )
    _out(
        {
            "logged_in": True,
            "organization": org,
            "username": args.user,
            "email": email,
            "config_path": str(get_devkit_config_path()),
        }
    )
    return 0


def cmd_logout(args, spark) -> int:
    """Clear the stored token/profile (logout.py + services/logout.py)."""
    from basis_devkit_spark.cli_config import update_devkit_config

    update_devkit_config(token=None, username=None, email=None)
    _out({"logged_in": False})
    return 0


def cmd_whoami(args, spark) -> int:
    """Current profile — the ``me()`` accounts lookup (accounts.py:9),
    with the effective organization resolved through the multi-org order
    (explicit ``-o`` → configured default → sole known org)."""
    from basis_devkit_spark.cli_config import (
        read_devkit_config,
        resolve_organization,
    )

    cfg = read_devkit_config()
    if not cfg.logged_in:
        raise SystemExit("not logged in (run `login --user NAME` first)")
    try:
        org = resolve_organization(getattr(args, "organization", None))
    except ValueError as exc:
        raise SystemExit(str(exc))
    _out(
        {
            "username": cfg.username,
            "email": cfg.email,
            "organization": org,
            "default_organization": cfg.organization_id,
        }
    )
    return 0


def cmd_secret(args, spark) -> int:
    """Org-scoped secret CRUD (cli/services/secrets.py). Values resolve in
    node parameters via ``secret://<name>``."""
    from basis_devkit_spark import secrets as svc

    try:
        if args.action in ("create", "delete") and not args.name:
            raise SystemExit(f"secret {args.action} requires NAME")
        if args.action == "create":
            if args.value is None:
                raise SystemExit("secret create requires NAME VALUE")
            meta = svc.create_secret(
                args.name,
                args.value,
                description=args.description,
                sensitive=args.sensitive,
                organization=args.organization,
                type=args.type,
            )
            _out({"created": meta})
        elif args.action == "list":
            _out(_paginate(svc.list_secrets(args.organization), args))
        else:  # delete
            if not svc.delete_secret(args.name, organization=args.organization):
                raise SystemExit(f"no such secret: {args.name}")
            _out({"deleted": args.name})
    except ValueError as exc:
        raise SystemExit(str(exc))
    return 0


def _paginate(items: list, args) -> list:
    """Local analogue of the paginated-endpoint iteration
    (cli/services/pagination.py): bounded pages via --limit/--offset."""
    offset = getattr(args, "offset", 0) or 0
    limit = getattr(args, "limit", None)
    return items[offset : offset + limit if limit else None]


def cmd_schedule(args, spark) -> int:
    """Run the cron scheduler loop (engine.run_scheduler, A23): evaluates
    every node's `trigger:` each minute boundary until interrupted or
    --ticks minutes have been evaluated."""
    eng = _engine(args, _get_spark(spark))
    try:
        ran = eng.run_scheduler(
            poll_seconds=args.poll, max_ticks=args.ticks
        )
    except KeyboardInterrupt:
        ran = -1
    _out({"scheduler_done": True, "nodes_run": ran})
    return 0


def cmd_vacuum(args, spark) -> int:
    """Retention GC over every graph store (TableStore.vacuum)."""
    eng = _engine(args, _get_spark(spark))
    for name in sorted(eng.graph_store_names()):
        if eng.store(name).exists:
            eng.store(name).vacuum(keep_last=args.keep)
    _out({"vacuumed": True, "keep_last": args.keep})
    return 0


def cmd_serve(args, spark) -> int:
    from basis_devkit_spark.engine.webhook_http import WebhookServer

    eng = _engine(args, _get_spark(spark))
    token = None
    if args.auth:
        from basis_devkit_spark.cli_config import read_devkit_config

        token = read_devkit_config().token
        if not token:
            raise SystemExit("--auth requires a login token (run `login` first)")
    server = WebhookServer(eng, host=args.host, port=args.port, auth_token=token)
    print(f"webhook endpoint at {server.url}/webhooks", file=sys.stderr)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.stop()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="basis_devkit_spark")
    p.add_argument("--root", help="storage root (default ./store)")
    sub = p.add_subparsers(dest="cmd", required=True)

    up = sub.add_parser("upload", help="validate + register an app")
    up.add_argument("app")

    run = sub.add_parser("run", help="run the full graph")
    run.add_argument("app", nargs="?")
    run.add_argument(
        "-j", "--parallelism", type=int, default=None,
        help="nodes run at once; each starts as soon as the nodes it "
        "depends on commit (default: the session's parallelism; 1 runs "
        "one node at a time)",
    )

    tr = sub.add_parser("trigger", help="run one node immediately")
    tr.add_argument("app", nargs="?")
    tr.add_argument("--node", required=True, help="node id or node file name")

    expl = sub.add_parser(
        "explain", help="rendered SQL + physical plan for a node"
    )
    expl.add_argument("app", nargs="?")
    expl.add_argument("--node", required=True, help="node id or file name")
    expl.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )

    ls = sub.add_parser("list", help="list graph objects")
    ls.add_argument(
        "kind",
        choices=["nodes", "stores", "webhooks", "apps", "orgs", "versions",
                 "history"],
    )
    ls.add_argument("app", nargs="?")
    ls.add_argument("--table", help="store name (kind=history)")
    ls.add_argument("--limit", type=int, help="page size")
    ls.add_argument("--offset", type=int, default=0, help="page start")

    dl = sub.add_parser("download", help="export a store")
    dl.add_argument("--table", required=True)
    dl.add_argument("--out", required=True)

    ex = sub.add_parser(
        "export", help="export a managed table (portable parquet+descriptor)"
    )
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True, help="destination directory")
    ex.add_argument(
        "--history", action="store_true", help="also export retained versions"
    )

    im = sub.add_parser(
        "import", help="import an export dir or raw parquet/csv/jsonl"
    )
    im.add_argument("--table", required=True)
    im.add_argument("--src", required=True, help="export dir or data path")
    im.add_argument("--format", choices=["parquet", "csv", "jsonl"])
    im.add_argument(
        "--history", action="store_true", help="replay exported versions"
    )

    pub = sub.add_parser(
        "publish", help="publish an app as a component (org/name@version)"
    )
    pub.add_argument("app")
    pub.add_argument("key", help="component key, e.g. myorg/scaler@v1")
    pub.add_argument("--registry", help="registry dir (default ~/.basis_devkit_spark/components or $BASIS_DEVKIT_SPARK_COMPONENTS)")

    cr = sub.add_parser("create", help="scaffold an app or node")
    cr.add_argument("kind", choices=["app", "node"])
    cr.add_argument("location", help="app dir, node file, or node/table name")
    cr.add_argument("--name", help="app name (default: directory name)")
    cr.add_argument("--title", default="", help="node title")
    cr.add_argument("--app", help="app dir the node belongs to")
    cr.add_argument(
        "--type",
        default="function",
        choices=["function", "component", "webhook", "table"],
        help="node type (default function)",
    )

    pl = sub.add_parser(
        "pull", help="extract a published component into a directory"
    )
    pl.add_argument("key", help="component key, e.g. myorg/scaler@v1")
    pl.add_argument("directory", nargs="?", help="target dir (default: name)")
    pl.add_argument("--force", action="store_true", help="overwrite local files")
    pl.add_argument(
        "--diff", action="store_true", help="show full diff of conflicts"
    )
    pl.add_argument("--registry", help="registry dir override")

    rs = sub.add_parser(
        "restore", help="extract an uploaded graph version into a directory; "
        "with --table, RESTORE TABLE to an old store version"
    )
    rs.add_argument("--version", type=int, required=True)
    rs.add_argument("--table", help="restore this STORE to --version instead")
    rs.add_argument("directory", nargs="?", help="target dir (default: cwd)")
    rs.add_argument("--force", action="store_true", help="overwrite local files")
    rs.add_argument("--diff", action="store_true", help="show full diff of conflicts")

    dele = sub.add_parser("delete", help="deregister the app from a root")
    dele.add_argument("--force", action="store_true")

    upd = sub.add_parser("update", help="update a published component")
    upd.add_argument("key", help="component key, e.g. myorg/scaler@v1")
    g = upd.add_mutually_exclusive_group()
    g.add_argument("--deprecated", dest="deprecated", action="store_true", default=None)
    g.add_argument("--no-deprecated", dest="deprecated", action="store_false")
    upd.add_argument("--registry", help="registry dir override")

    cf = sub.add_parser("config", help="get/set resolved configuration")
    cf.add_argument(
        "-o", "--organization", help="set the default organization"
    )

    lg = sub.add_parser("login", help="create the local profile + token")
    lg.add_argument("--user", required=True, help="username")
    lg.add_argument("--email", help="email (default user@localhost)")
    lg.add_argument("-o", "--organization", help="organization (default local)")

    sub.add_parser("logout", help="clear the stored token/profile")
    wa = sub.add_parser("whoami", help="print the current profile")
    wa.add_argument(
        "-o", "--organization", help="resolve this organization instead of the default"
    )

    se = sub.add_parser("secret", help="org-scoped secret CRUD")
    se.add_argument("action", choices=["create", "list", "delete"])
    se.add_argument("name", nargs="?", help="secret name")
    se.add_argument("value", nargs="?", help="secret value (create)")
    se.add_argument("--description", default="", help="secret description")
    se.add_argument(
        "--sensitive", action="store_true", help="mask the value in listings"
    )
    se.add_argument(
        "--type",
        choices=["str", "int", "float", "bool"],
        default="str",
        help="value type preserved through secret:// resolution",
    )
    se.add_argument("-o", "--organization", help="organization override")
    se.add_argument("--limit", type=int, help="page size (list)")
    se.add_argument("--offset", type=int, default=0, help="page start (list)")

    sc = sub.add_parser("schedule", help="run the cron scheduler loop")
    sc.add_argument("app", nargs="?")
    sc.add_argument("--poll", type=float, default=5.0, help="poll seconds")
    sc.add_argument("--ticks", type=int, default=None, help="stop after N minute ticks")

    va = sub.add_parser("vacuum", help="retention GC over graph stores")
    va.add_argument("app", nargs="?")
    va.add_argument("--keep", type=int, default=2, help="versions to keep")

    sv = sub.add_parser("serve", help="HTTP webhook endpoint")
    sv.add_argument("app", nargs="?")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8787)
    sv.add_argument(
        "--auth",
        action="store_true",
        help="require Authorization: Bearer <login token> on every request",
    )

    return p


_COMMANDS = {
    "publish": cmd_publish,
    "upload": cmd_upload,
    "run": cmd_run,
    "trigger": cmd_trigger,
    "explain": cmd_explain,
    "list": cmd_list,
    "download": cmd_download,
    "export": cmd_export,
    "import": cmd_import,
    "pull": cmd_pull,
    "restore": cmd_restore,
    "create": cmd_create,
    "delete": cmd_delete,
    "update": cmd_update,
    "config": cmd_config,
    "login": cmd_login,
    "logout": cmd_logout,
    "whoami": cmd_whoami,
    "secret": cmd_secret,
    "serve": cmd_serve,
    "schedule": cmd_schedule,
    "vacuum": cmd_vacuum,
}


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    return _COMMANDS[args.cmd](args, spark)


if __name__ == "__main__":
    raise SystemExit(main())
