"""Layered benchmark of map_reduce_project_spark; entry point: run.py."""
