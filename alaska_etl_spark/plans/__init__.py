"""Warehouse load protocol + the analytics query layer."""
