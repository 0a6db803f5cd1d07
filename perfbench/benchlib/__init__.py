"""Checking, statistics and reporting for the perfbench benchmark."""
