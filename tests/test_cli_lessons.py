"""Lessons CLI (python -m pdf_extractor_spark lessons ...) — the
reference's lessons_cli.py:164-419 add/get/list/update/delete verbs
over the keyed lessons store, driven in-process like test_cli.py."""

import json


def _add(main, store, key, problem, project="proj-a", tags="spark,dedup",
         date="2026-01-02"):
    return main([
        "lessons", "add", "--store", store, "--key", key,
        "--problem", problem, "--solution", f"solution for {problem}",
        "--project", project, "--module", "mod1", "--tags", tags,
        "--date", date,
    ])


def test_lessons_add_get_roundtrip(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    rc = _add(main, store, "lesson_x1", "flaky join")
    assert rc == 0
    out = capsys.readouterr().out
    assert "Successfully added lesson with key: lesson_x1" in out

    rc = main(["lessons", "get", "lesson_x1", "--store", store])
    assert rc == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["_key"] == "lesson_x1"
    assert doc["problem"] == "flaky join"
    assert doc["tags"] == ["spark", "dedup"]
    # embed_text: join of present fields (problem, solution only here)
    assert doc["embed_text"] == "flaky join solution for flaky join"

    # missing key -> reference error path, exit 1
    rc = main(["lessons", "get", "nope", "--store", store])
    assert rc == 1
    assert "Error: Lesson not found with key: nope" in capsys.readouterr().out


def test_lessons_add_auto_key_and_validation(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    # auto key is the deterministic md5 stand-in: lesson_<8 hex>
    rc = main([
        "lessons", "add", "--store", store, "--problem", "p1",
        "--solution", "s1", "--project", "pr", "--module", "m",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    key = out.split("key: ")[1].split("\n")[0]
    assert key.startswith("lesson_") and len(key) == len("lesson_") + 8

    # required-field failure carries the reference's exact message
    rc = main([
        "lessons", "add", "--store", store, "--problem", "",
        "--solution", "s", "--project", "pr", "--module", "m",
    ])
    assert rc == 1
    assert (
        "Required field 'problem' is missing or empty in lesson data"
        in capsys.readouterr().out
    )


def test_lessons_add_existing_key_leaves_first_lesson(spark, tmp_path, capsys):
    """A second add with the same --key is refused (exit 1) and the
    stored lesson is still the first one: add never overwrites."""
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    assert _add(main, store, "lesson_dup", "first problem") == 0
    capsys.readouterr()
    rc = _add(main, store, "lesson_dup", "second problem", project="proj-b")
    assert rc == 1
    assert "already exists" in capsys.readouterr().out

    assert main(["lessons", "get", "lesson_dup", "--store", store]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["problem"] == "first problem"
    assert doc["solution"] == "solution for first problem"
    assert doc["project"] == "proj-a"


def test_lessons_list_filters(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    _add(main, store, "lesson_a", "pa", project="alpha",
         tags="spark,skew", date="2026-01-03")
    _add(main, store, "lesson_b", "pb", project="beta",
         tags="duckdb", date="2026-01-05")
    _add(main, store, "lesson_c", "pc", project="alpha",
         tags="skew,ansi", date="2026-01-04")
    capsys.readouterr()

    # unfiltered: created_date DESC
    assert main(["lessons", "list", "--store", store]) == 0
    docs = json.loads(capsys.readouterr().out)
    assert [d["_key"] for d in docs] == ["lesson_b", "lesson_c", "lesson_a"]

    # tag intersection (lessons_cli.py:249-252)
    assert main([
        "lessons", "list", "--store", store, "--tags", "skew,missing",
    ]) == 0
    docs = json.loads(capsys.readouterr().out)
    assert {d["_key"] for d in docs} == {"lesson_a", "lesson_c"}

    # project filter + limit
    assert main([
        "lessons", "list", "--store", store, "--project", "alpha",
        "--limit", "1",
    ]) == 0
    docs = json.loads(capsys.readouterr().out)
    assert [d["_key"] for d in docs] == ["lesson_c"]

    # empty-filter message
    assert main([
        "lessons", "list", "--store", store, "--project", "nope",
    ]) == 0
    assert "No lessons found matching the filter criteria." in (
        capsys.readouterr().out
    )


def test_lessons_update_and_items(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    _add(main, store, "lesson_u", "orig problem")
    capsys.readouterr()

    rc = main([
        "lessons", "update", "lesson_u", "--store", store,
        "--problem", "new problem", "--tags", "x,y",
        "--item-category", "perf", "--item-title", "t",
        "--item-description", "d", "--item-details", "dd",
        "--item-benefit", "b",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Successfully updated lesson: lesson_u" in out
    doc = json.loads(out.split("lesson_u\n", 1)[1])
    assert doc["problem"] == "new problem"
    assert doc["tags"] == ["x", "y"]
    assert [json.loads(i)["category"] for i in doc["lessons"]] == ["perf"]
    # embed_text re-assembled after the update
    assert doc["embed_text"].startswith("new problem ")

    # invalid item: reference's validation path, exit 1
    rc = main([
        "lessons", "update", "lesson_u", "--store", store,
        "--item-category", "perf", "--item-title", "",
        "--item-description", "d", "--item-details", "dd",
        "--item-benefit", "b",
    ])
    assert rc == 1
    assert "Error: Invalid lesson item:" in capsys.readouterr().out

    # no-op update renders the reference's hint, exit 0
    rc = main(["lessons", "update", "lesson_u", "--store", store])
    assert rc == 0
    assert "No updates provided." in capsys.readouterr().out

    # unknown key
    rc = main([
        "lessons", "update", "ghost", "--store", store, "--problem", "p",
    ])
    assert rc == 1
    assert "Error: Lesson not found with key: ghost" in capsys.readouterr().out


def test_lessons_delete_confirm_semantics(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    _add(main, store, "lesson_d", "pd")
    capsys.readouterr()

    # without --yes: the typer-confirm stand-in cancels
    rc = main(["lessons", "delete", "lesson_d", "--store", store])
    assert rc == 0
    assert "Deletion cancelled." in capsys.readouterr().out
    assert main(["lessons", "get", "lesson_d", "--store", store]) == 0
    capsys.readouterr()

    rc = main(["lessons", "delete", "lesson_d", "--store", store, "--yes"])
    assert rc == 0
    assert "Successfully deleted lesson: lesson_d" in capsys.readouterr().out
    assert main(["lessons", "get", "lesson_d", "--store", store]) == 1
    capsys.readouterr()

    # deleting a missing key is the reference's error path
    rc = main(["lessons", "delete", "lesson_d", "--store", store, "--yes"])
    assert rc == 1


def test_lessons_get_pretty_toggle(spark, tmp_path, capsys):
    """--pretty is the default (indented JSON); --no-pretty prints the
    same document on one line."""
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "lessons")
    assert _add(main, store, "lesson_p1", "pretty toggle") == 0
    capsys.readouterr()

    assert main(["lessons", "get", "lesson_p1", "--store", store]) == 0
    pretty = capsys.readouterr().out
    assert pretty.startswith("{\n  ")

    assert main(["lessons", "get", "lesson_p1", "--store", store, "--no-pretty"]) == 0
    compact = capsys.readouterr().out
    assert compact.count("\n") == 1
    assert json.loads(compact) == json.loads(pretty)
