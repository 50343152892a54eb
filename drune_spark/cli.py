"""CLI — ``drune-spark run|validate|create|update|test|init``
(SURVEY §2.10 O7).

The reference's click UX (reference: cli/main.py:28-89, docs/cli.md:1-42)
on the Gen-2 project machinery: commands operate on a project directory
with a ``drune.yml`` and a pipelines folder. ``validate`` is config-only
(no SparkSession, no execution — docs/cli.md:19-29).
"""

from __future__ import annotations

import os

import click

from drune_spark.pipeline import Project


class _FriendlyGroup(click.Group):
    """Surface expected failures as one-line errors, not tracebacks."""

    def invoke(self, ctx):
        try:
            return super().invoke(ctx)
        except click.ClickException:
            raise
        except (FileNotFoundError, ValueError, KeyError) as e:
            raise click.ClickException(str(e)) from e


@click.group(cls=_FriendlyGroup)
def cli() -> None:
    """drune_spark — declarative Spark pipelines."""


@cli.command()
@click.argument("pipeline_name")
@click.option("--project", "-p", default=".", help="project directory")
@click.option("--profile", default=None, help="config profile overlay")
@click.option("--stop-at", default=None, help="run up to this step, then stop")
def run(pipeline_name: str, project: str, profile: str | None,
        stop_at: str | None) -> None:
    """Execute a pipeline: read -> schema -> constraints -> steps -> write."""
    proj = Project(project, profile=profile)
    pipe = proj.pipeline(pipeline_name)
    if stop_at is None:
        pipe.execute()
    else:
        pipe.read()
        pipe.run(stop_at=stop_at)
    click.echo(f"pipeline '{pipeline_name}' completed")


def _semantic_errors(model) -> list[str]:
    """Config checks beyond pydantic shape validation: rule strings must
    parse, step types and rule functions must be registered, targets
    must name a path or table."""
    from drune_spark.config.parsers import parse_rules
    from drune_spark.operators.registry import StepRegistry
    from drune_spark.quality.rules import RuleRegistry

    errors: list[str] = []
    for spec in model.sources:
        if spec.schema_ is None:
            continue
        for colspec in spec.schema_.columns:
            for cons in colspec.constraints:
                try:
                    parsed = parse_rules(cons.rule)
                except Exception as e:  # noqa: BLE001
                    errors.append(
                        f"source '{spec.name}' column '{colspec.name}': "
                        f"unparseable rule '{cons.rule}': {e}"
                    )
                    continue
                for p in parsed:
                    try:
                        RuleRegistry.get(p["function"])
                    except KeyError as e:
                        errors.append(
                            f"source '{spec.name}' column '{colspec.name}': "
                            f"{e.args[0]}"
                        )
    for step in model.steps:
        try:
            StepRegistry.get(step.type)
        except KeyError as e:
            errors.append(f"step '{step.name}': {e.args[0]}")
    tgt = model.target
    if tgt is not None and tgt.type == "table" and not tgt.table_name:
        errors.append(f"target '{tgt.name}': type=table but no table_name")
    if tgt is not None and tgt.type != "table" and not tgt.path:
        errors.append(f"target '{tgt.name}': file target has no path")
    return errors


@cli.command()
@click.argument("pipeline_name", required=False)
@click.option("--project", "-p", default=".", help="project directory")
@click.option("--profile", default=None, help="config profile overlay")
def validate(pipeline_name: str | None, project: str,
             profile: str | None) -> None:
    """Validate project + pipeline configs WITHOUT executing
    (reference docs/cli.md:19-29). Checks YAML shape (pydantic), rule
    grammar, step-type registration, and target completeness. With no
    PIPELINE_NAME, validates every pipeline in the project. Exit code 1
    on any validation error; no SparkSession is started."""
    proj = Project(project, profile=profile)
    names = [pipeline_name] if pipeline_name else proj.pipeline_names()
    if not names:
        raise click.ClickException("no pipelines found to validate")
    failed = False
    for name in names:
        try:
            model = proj.load_pipeline_model(name)
        except Exception as e:  # noqa: BLE001 — pydantic/YAML/IO errors
            failed = True
            click.echo(f"INVALID {name}: {e}")
            continue
        errors = _semantic_errors(model)
        if errors:
            failed = True
            click.echo(f"INVALID {name}:")
            for err in errors:
                click.echo(f"  - {err}")
        else:
            n_steps = len(model.steps)
            click.echo(
                f"ok {name}: {len(model.sources)} source(s), "
                f"{n_steps} step(s)"
            )
    if failed:
        raise SystemExit(1)


@cli.command()
@click.argument("pipeline_name")
@click.option("--project", "-p", default=".")
@click.option("--profile", default=None)
def create(pipeline_name: str, project: str, profile: str | None) -> None:
    """Create the pipeline's target table from its declared schema."""
    from drune_spark.catalog.ddl import create_table

    proj = Project(project, profile=profile)
    pipe = proj.pipeline(pipeline_name)
    if pipe.model.target is None:
        raise click.ClickException("pipeline has no target")
    create_table(proj.spark, pipe.model.target)
    click.echo(f"created {pipe.model.target.table_name}")


@cli.command()
@click.argument("pipeline_name")
@click.option("--project", "-p", default=".")
@click.option("--profile", default=None)
def update(pipeline_name: str, project: str, profile: str | None) -> None:
    """Evolve the live table to match the declared schema (ADD COLUMNS)."""
    from drune_spark.catalog.ddl import update_table

    proj = Project(project, profile=profile)
    pipe = proj.pipeline(pipeline_name)
    if pipe.model.target is None:
        raise click.ClickException("pipeline has no target")
    stmts = update_table(proj.spark, pipe.model.target)
    click.echo("\n".join(stmts) if stmts else "schema up to date")


@cli.command()
@click.argument("pipeline_name")
@click.option("--project", "-p", default=".")
@click.option("--profile", default=None)
def test(pipeline_name: str, project: str, profile: str | None) -> None:
    """Golden-test mode: run on test source data, diff vs expected
    (volatile columns dropped, exceptAll both ways)."""
    proj = Project(project, profile=profile)
    pipe = proj.pipeline(pipeline_name)
    tb = pipe.model.test
    if tb is None or not tb.expected:
        raise click.ClickException("pipeline has no test: block")
    pipe.read(src_paths=tb.source_data or None)
    pipe.run()
    expected = proj.spark.read.parquet(tb.expected) if "/" in tb.expected \
        else proj.spark.read.table(tb.expected)
    pipe.golden_test(expected)
    click.echo("golden test passed")


@cli.command()
@click.argument("project_dir")
def init(project_dir: str) -> None:
    """Scaffold a new project: drune.yml + pipelines/."""
    os.makedirs(os.path.join(project_dir, "pipelines"), exist_ok=True)
    cfg = os.path.join(project_dir, "drune.yml")
    if os.path.exists(cfg):
        raise click.ClickException(f"{cfg} already exists")
    with open(cfg, "w") as fh:
        fh.write(
            "name: my_project\n"
            "defaults:\n"
            "  engine:\n"
            "    name: spark\n"
            "    options: {}\n"
            "  paths:\n"
            "    pipelines: pipelines\n"
        )
    click.echo(f"initialized {project_dir}")


if __name__ == "__main__":
    cli()
